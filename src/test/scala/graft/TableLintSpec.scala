package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the dedup funnel's primitive tables. The
  * open-addressing long-keyed table lives once, in
  * `graft.util.LongLongMap`, and union-find once, in `GraphOps`'
  * `UnionFind`, which both the driver finish and `localSpanningForest`
  * use. So outside `util/LongLongMap.scala` no source under
  * `src/main/scala/graft` has the table's
  * `* 0x9E3779B97F4A7C15L) >>> 40` probe or a `private def grow()`,
  * and outside `UnionFind` none has a `def find(x: Long)`. Comments do
  * not count. */
class TableLintSpec extends AnyFunSuite {

  private val tablePatterns = Seq(
    raw"(?i)\*\s*0x9E3779B97F4A7C15L\s*\)\s*>>>\s*40\b",
    raw"private\s+def\s+grow\s*\(\s*\)").map(_.r)
  private val findPattern =
    Seq(raw"def\s+find\s*\(\s*\w+\s*:\s*Long\s*\)".r)

  private val table = "/util/LongLongMap.scala"
  private val graph = "/graph/GraphOps.scala"

  test("open-addressing tables exist only in graft.util.LongLongMap") {
    val all = SourceLint.sources()
    val offenses = SourceLint.offenses(tablePatterns, Seq(table), all)
    assert(offenses.isEmpty,
      "hand-written open-addressing table; use graft.util.LongLongMap " +
        "instead:\n" + offenses.mkString("\n"))
    // the kernel itself is what the patterns describe: one probe, one grow
    assert(SourceLint.lines(SourceLint.only(table, all), tablePatterns)
      .size == 2, "kernel no longer matched")
  }

  test("union-find exists only in GraphOps.UnionFind, used by the " +
      "driver finish and localSpanningForest") {
    val all = SourceLint.sources()
    val offenses = SourceLint.offenses(findPattern, Seq(graph), all)
    assert(offenses.isEmpty,
      "hand-written union-find; use GraphOps' UnionFind instead:\n" +
        offenses.mkString("\n"))
    val src = SourceLint.only(graph, all)
    val finds = SourceLint.lines(src, findPattern)
    assert(finds.size == 1, s"GraphOps has ${finds.size} finds")
    assert(enclosingType(src, finds.head)
      .exists(_.contains("class UnionFind")),
      "GraphOps' find is not UnionFind's")
    assert(SourceLint.lines(src, Seq(raw"new\s+UnionFind\(".r)).size == 2,
      "the driver finish and localSpanningForest each build a UnionFind")
    assert(all.count(_._2.contains("class UnionFind")) == 1)
  }

  /** The nearest class, object or trait declaration at or above line
    * `ln` (1-based). */
  private def enclosingType(src: String, ln: Int): Option[String] =
    src.split('\n').take(ln).reverseIterator.find(l =>
      !SourceLint.isComment(l) &&
        raw"\b(class|object|trait)\s".r.findFirstIn(l).isDefined)

  test("the lint catches planted copies and skips comments") {
    val planted =
      """private final class TokenDfMap(expected: Int) {
        |  private def slot(k: Long): Int = {
        |    var i = ((k * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
        |    while (occ(i) && keys(i) != k) i = (i + 1) & mask
        |    i
        |  }
        |  private def grow(): Unit = {
        |    cap <<= 1; mask = cap - 1
        |  }
        |}""".stripMargin
    assert(SourceLint.lines(planted, tablePatterns) == Seq(3, 7))
    assert(SourceLint.offenses(tablePatterns, Seq(table),
      Seq("src/main/scala/graft/text/TextOps.scala" -> planted)) ==
      Seq("src/main/scala/graft/text/TextOps.scala:3",
        "src/main/scala/graft/text/TextOps.scala:7"))
    val uf =
      """val parent = new LongLongMap(1 << 10)
        |def find(x: Long): Long = {
        |  var r = x
        |  while (parent.get(r, r) != r) r = parent.get(r, r)
        |  r
        |}""".stripMargin
    assert(SourceLint.lines(uf, findPattern) == Seq(2))
    assert(SourceLint.lines("  def find(node : Long): Long = root(node)",
      findPattern) == Seq(1))
    // a second find in GraphOps, outside UnionFind, is caught too
    val copied = "private final class UnionFind(e: Int) {\n  " +
      "private def find(x: Long): Long = x\n}\n" +
      "object Forest {\n" + uf + "\n}"
    assert(SourceLint.lines(copied, findPattern) == Seq(2, 6))
    assert(enclosingType(copied, 2).exists(_.contains("class UnionFind")))
    assert(enclosingType(copied, 6).contains("object Forest {"))
    // prose and other hashes never count
    assert(SourceLint.lines(
      "// ((k * 0x9E3779B97F4A7C15L) >>> 40) probes here", tablePatterns)
      .isEmpty)
    assert(SourceLint.lines("  * a `private def grow()` doubles",
      tablePatterns).isEmpty)
    assert(SourceLint.lines("var h = i.toLong * 0x9E3779B97F4A7C15L + salt",
      tablePatterns).isEmpty)
    assert(SourceLint.lines("def find(name: String): Int = 0", findPattern)
      .isEmpty)
  }
}
