package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for dense Gram solves. Partial-pivot elimination lives
  * once, in `graft.linear.Solvers.gaussJordan`, which owns the pivot
  * rule and the singularity gate; every other solve calls it. So no
  * source under `src/main/scala/graft` searches for a pivot by
  * comparing the magnitudes of two matrix entries, or scales a row by
  * its pivot (`/= pv`), except `linear/Solvers.scala` and
  * `agg/LinRegAggF32.scala` (single-precision arithmetic is its
  * contract). Comments do not count. */
class SolverLintSpec extends AnyFunSuite {

  private val pivotSearchRe =
    raw"math\.abs\(\s*\w+\(\w+\)\(\w+\)\s*\)\s*>=?\s*math\.abs\(\s*\w+\(\w+\)\(".r
  private val pivotScaleRe = raw"/=\s*(pv|piv|pivot)\b".r

  /** Line numbers (1-based) of pivot searches and pivot scalings. */
  private def lint(src: String): Seq[Int] = {
    val lines = src.split('\n')
    lines.indices.filter { i =>
      val t = lines(i).trim
      val code = lines(i).split("//", 2)(0)
      !(t.startsWith("*") || t.startsWith("/*")) &&
        (pivotSearchRe.findFirstIn(code).isDefined ||
          pivotScaleRe.findFirstIn(code).isDefined)
    }.map(_ + 1)
  }

  private val allowed = Seq("/linear/Solvers.scala", "/agg/LinRegAggF32.scala")

  test("partial-pivot elimination exists only in graft.linear.Solvers") {
    val root = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = walk(root)
    assert(all.size > 50, "lint found too few sources — wrong working dir?")
    val kernel = all.filter(f =>
      f.getPath.replace('\\', '/').endsWith("/linear/Solvers.scala"))
    assert(kernel.size == 1)
    def read(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    val offenses = all.filterNot(f =>
        allowed.exists(f.getPath.replace('\\', '/').endsWith))
      .flatMap(f => lint(read(f)).map(l => s"${f.getPath}:$l"))
    assert(offenses.isEmpty,
      "hand-written Gauss elimination; call " +
        "graft.linear.Solvers.gaussJordan (or solve) instead:\n" +
        offenses.mkString("\n"))
    // the kernel itself is what the patterns describe
    assert(lint(read(kernel.head)).size == 2, "kernel no longer matched")
  }

  test("the lint catches a planted elimination loop and skips comments") {
    val planted =
      """var piv = col
        |var r = col + 1
        |while (r < d) {
        |  if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        |  r += 1
        |}
        |val pv = a(col)(col)
        |while (j <= d) { a(col)(j) /= pv; j += 1 }""".stripMargin
    assert(lint(planted) == Seq(4, 8))
    assert(lint("for (r <- c + 1 until d) " +
      "if (math.abs(m(r)(c)) > math.abs(m(p)(c))) p = r") == Seq(1))
    assert(lint("row(j) /= pivot") == Seq(1))
    // prose and ordinary divisions never count
    assert(lint("// if (math.abs(a(r)(c)) > math.abs(a(piv)(c)))").isEmpty)
    assert(lint("  * rows scale by `a(c)(j) /= pv` there").isEmpty)
    assert(lint("x /= n; val ok = math.abs(x) > math.abs(y)").isEmpty)
  }
}
