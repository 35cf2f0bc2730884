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
  private def lint(src: String): Seq[Int] =
    SourceLint.lines(src, Seq(pivotSearchRe, pivotScaleRe))

  private val allowed = Seq("/linear/Solvers.scala", "/agg/LinRegAggF32.scala")

  test("partial-pivot elimination exists only in graft.linear.Solvers") {
    val all = SourceLint.sources()
    val offenses =
      SourceLint.offenses(Seq(pivotSearchRe, pivotScaleRe), allowed, all)
    assert(offenses.isEmpty,
      "hand-written Gauss elimination; call " +
        "graft.linear.Solvers.gaussJordan (or solve) instead:\n" +
        offenses.mkString("\n"))
    // the kernel itself is what the patterns describe
    assert(lint(SourceLint.only("/linear/Solvers.scala", all)).size == 2,
      "kernel no longer matched")
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
