package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for operator caches. A frame an operator persists must
  * be released through the CacheManager (`Dataset.unpersist`), not by
  * dropping its RDD's blocks: the latter leaves a stale entry that
  * turns every later `persist` of the same plan into a no-op
  * (CacheHygieneSpec shows the effect). So every `.persist(` under
  * `src/main/scala/graft` is either `Release.persist(…)`, which its
  * scope releases, or carries a `// persist-ok: <who releases it>`
  * annotation on its line or in the comment lines right above it.
  * Query definitions (`queries/`), tools (`tools/`) and the bench
  * main (`Bench.scala`) are exempt: they are callers, not operators. */
class PersistLintSpec extends AnyFunSuite {

  private val persistRe = "(?<!Release)\\.persist\\(".r

  /** Line numbers (1-based) of unannotated persists in one source. */
  private def lint(src: String): Seq[Int] = {
    val lines = src.split('\n')
    lines.indices.filter { i =>
      val code = lines(i).split("//", 2)(0)
      persistRe.findFirstIn(code).isDefined &&
        !SourceLint.isComment(lines(i)) && {
        val above =
          lines.take(i).reverseIterator.takeWhile(SourceLint.isComment)
        !(lines(i).contains("persist-ok:") ||
          above.exists(_.contains("persist-ok:")))
      }
    }.map(_ + 1)
  }

  private val exempt = Seq("/queries/", "/tools/", "/Bench.scala")

  test("every operator persist goes through Release.persist or says " +
      "who releases it") {
    val files = SourceLint.sources().filterNot { case (p, _) =>
      exempt.exists(p.contains) }
    assert(files.size > 50, "lint found too few sources — wrong working dir?")
    val offenses = files.flatMap { case (p, src) =>
      lint(src).map(l => s"$p:$l") }
    assert(offenses.isEmpty,
      "persist without Release.persist or a `// persist-ok: <who " +
        "releases it>` annotation:\n" + offenses.mkString("\n"))
  }

  test("the lint catches a planted persist and honours the annotations") {
    val planted =
      """val sigs = df.select(col("i"))
        |  .persist(StorageLevel.MEMORY_AND_DISK)""".stripMargin
    assert(lint(planted) == Seq(2))
    assert(lint("val d = rdd.persist()") == Seq(1))
    assert(lint("""val s = Release.persist(df.select(col("i")))""").isEmpty)
    assert(lint("""val s = graft.util.Release.persist(df)""").isEmpty)
    assert(lint("val d = df.persist() // persist-ok: finally below").isEmpty)
    val above =
      """val d = df
        |  // persist-ok: unpersisted on both paths
        |  // (a second comment line)
        |  .persist()""".stripMargin
    assert(lint(above).isEmpty)
    // an annotation separated from the persist by code does not count
    val far =
      """// persist-ok: somewhere
        |val x = 1
        |val d = df.persist()""".stripMargin
    assert(lint(far) == Seq(3))
    // prose in comments never counts as a persist
    assert(lint("// an operator's .persist( call").isEmpty)
    assert(lint("  * see `.persist(level)` above").isEmpty)
  }
}
