package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench modes run end to end in the shared test session, printing
  * the line formats their consumers parse: the fresh-JVM adjudication
  * reads `time`'s rep lines, and a reader of `profile` expects one
  * summary line per query. The sf dir holds a small synthetic
  * `lineitem`, all that q1_agg reads. */
class BenchModesSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_bench").toString
    spark.range(6000L).selectExpr("cast(id % 50 as double) as l_quantity",
        "cast(id as double) * 1.5 as l_extendedprice",
        "cast(id % 11 as double) / 100 as l_discount",
        "cast(id % 3 as string) as l_returnflag",
        "cast(id % 2 as string) as l_linestatus")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  private def captured(f: => Boolean): (Boolean, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val ok = Console.withOut(buf)(f)
    (ok, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("timed records a throwing closure as failed, not fast") {
    val (sec, r) = Bench.timed[Long](throw new IllegalStateException("x"))
    assert(r.isFailure)
    assert(r.failed.get.getMessage == "x")
    assert(sec >= 0.0)
  }

  test("timed records a succeeding closure as ok, with its value") {
    val (sec, r) = Bench.timed { Thread.sleep(20); 7L }
    assert(r.isSuccess && r.get == 7L)
    assert(sec >= 0.02)
  }

  test("timed lets fatal errors propagate") {
    assertThrows[StackOverflowError](
      Bench.timed[Unit](throw new StackOverflowError()))
  }

  test("time prints rep lines the fresh-JVM adjudication parses") {
    val (ok, out) = captured(Bench.time(spark, "q1_agg", dir, 2))
    assert(ok)
    val reps = out.filter(_.startsWith("[timeone] q1_agg rep"))
    assert(reps.size == 2, out.mkString("\n"))
    assert(reps.head.startsWith("[timeone] q1_agg rep1: "))
    val times = reps.flatMap(l => Bench.RepLine.findFirstMatchIn(l))
      .map(_.group(1).toDouble)
    assert(times.size == 2 && times.forall(_ > 0.0), reps.mkString("\n"))
  }

  test("profile prints one summary line per query, codegen approximate") {
    val qs = Seq("q1_agg", "q1_agg")
    val (ok, out) = captured(Bench.profile(spark, dir, qs))
    assert(ok)
    val summaries = out.filter(l => l.startsWith("[profile] q") &&
      l.contains(" wall="))
    assert(summaries.map(_.split(" ")(1)) == qs, out.mkString("\n"))
    summaries.foreach { l =>
      assert(l.matches(
        ".* rows=6 jobs=\\d+ injob=.* codegen~=[0-9.]+ s"), l)
    }
    assert(out.exists(_.startsWith("[profile]   job ")))
  }

  test("time reports a failing query as FAILED, never as a rep time") {
    // q_roc_auc reads tables this sf dir does not have
    val (ok, out) = captured(Bench.time(spark, "q_roc_auc", dir, 1))
    assert(!ok)
    assert(out.exists(_.startsWith("[timeone] q_roc_auc rep1: FAILED")))
    assert(out.forall(Bench.RepLine.findFirstMatchIn(_).isEmpty))
  }

  test("explain prints the formatted plan of each named query") {
    val (_, out) = captured { Bench.explain(spark, dir, Seq("q1_agg")); true }
    assert(out.contains("========== q1_agg =========="))
    assert(out.exists(_.contains("Physical Plan")), out.mkString("\n"))
  }

  test("an unknown query name fails before anything runs") {
    assertThrows[IllegalArgumentException](
      Bench.profile(spark, dir, Seq("q_no_such_query")))
  }
}
