package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the broadcast-query vector searches. The capped
  * query collect, the per-partition top-k heap and the per-query rank
  * finish live once, in `graft.sim.VectorTopK`; every search calls
  * them. So no source under `src/main/scala/graft` except
  * `sim/VectorTopK.scala` bounds a collect with
  * `limit(math.min(<cap> + 1`, builds a
  * `PriorityQueue.empty[(Double, Long)]` or ranks with
  * `Window.partitionBy(col("qid"))`. Comments do not count. */
class VectorTopKLintSpec extends AnyFunSuite {

  private val patterns = Seq(
    raw"limit\(\s*math\.min\(\s*\w+\s*\+\s*1\b",
    raw"PriorityQueue\.empty\[\(\s*Double\s*,\s*Long\s*\)\]",
    raw"""Window\.partitionBy\(\s*col\(\s*"qid"\s*\)\s*\)""").map(_.r)

  /** Line numbers (1-based) of the patterns outside comments. */
  private def lint(src: String): Seq[Int] = SourceLint.lines(src, patterns)

  test("capped query collects, top-k heaps and qid rank windows exist " +
      "only in graft.sim.VectorTopK") {
    val all = SourceLint.sources()
    val kernel = "/sim/VectorTopK.scala"
    val offenses = SourceLint.offenses(patterns, Seq(kernel), all)
    assert(offenses.isEmpty,
      "hand-written vector top-k machinery; call graft.sim.VectorTopK " +
        "(collectQueries / scan / topKPerQuery) instead:\n" +
        offenses.mkString("\n"))
    // the kernel itself is what the patterns describe
    assert(lint(SourceLint.only(kernel, all)).size == 3,
      "kernel no longer matched")
  }

  test("the lint catches planted copies and skips comments") {
    val planted =
      """val nQ = queries
        |  .limit(math.min(queryCap + 1, Int.MaxValue - 8L).toInt).count()
        |val h = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        |  Ordering.by[(Double, Long), (Double, Long)](p => (-p._1, p._2)))
        |val w = Window.partitionBy(col("qid"))
        |  .orderBy(col("cos").desc, col("cid"))""".stripMargin
    assert(lint(planted) == Seq(2, 3, 5))
    assert(lint("rows.limit(math.min(cap+1, n))") == Seq(1))
    // prose and other windows never count
    assert(lint("// Window.partitionBy(col(\"qid\")) ranks here").isEmpty)
    assert(lint("  * a `PriorityQueue.empty[(Double, Long)]` per query")
      .isEmpty)
    assert(lint("Window.partitionBy(col(\"grp\")).orderBy(col(\"x\"))")
      .isEmpty)
    assert(lint("df.limit(math.min(n, 10))").isEmpty)
  }
}
