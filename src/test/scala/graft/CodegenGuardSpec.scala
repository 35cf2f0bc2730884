package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Stats
import graft.ops.{MetricOps, StatOps}

/** Every whole-stage-codegen subtree of these operators' plans must
  * compile. A subtree Janino rejects ("Code grows beyond 64 KB") falls
  * back to interpreted execution without failing the query, so only a
  * compile of each subtree shows it: codegenStringSeq reports
  * maxMethodCodeSize = -1 for a class that did not compile. And a warm
  * re-run of a session's plans must compile nothing: Spark's codegen
  * class cache holds [[GraftSession.CodegenCacheEntries]] entries. */
class CodegenGuardSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  /** The session with AQE off, so the executed plan is the final one. */
  private lazy val fixed = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def events: DataFrame = fixed.range(0, 3000)
    .select((col("id") % 3).cast("string").as("event_type"),
      (sin(col("id")) * 50.0 + col("id") % 7).as("value"),
      (col("id") * 7 % 5).as("user_id"),
      array((col("id") * 131 % 997) / 997.0,
        (col("id") * 137 % 991) / 991.0,
        (col("id") * 139 % 983) / 983.0).as("probs"))

  private def assertCompiles(name: String, df: DataFrame): Unit = {
    val subtrees = codegenStringSeq(df.queryExecution.executedPlan)
    assert(subtrees.nonEmpty, s"$name: no whole-stage codegen subtree")
    for ((tree, _, stats) <- subtrees)
      assert(stats.maxMethodCodeSize >= 0,
        s"$name: a codegen subtree did not compile:\n$tree")
  }

  test("normalTest, grouped spearman and multiRocAuc plans compile " +
      "every whole-stage codegen subtree") {
    assertCompiles("normalTest", events.groupBy("event_type")
      .agg(Stats.normalTest(col("value")).as("nt"))
      .select(col("event_type"), col("nt.statistic"), col("nt.pvalue")))
    assertCompiles("spearman", StatOps.spearman(events, col("user_id"),
      col("value"), Seq("event_type")))
    for (groups <- Seq(Seq("event_type"), Nil); weighted <- Seq(false, true))
      assertCompiles(s"multiRocAuc($groups, weighted=$weighted)",
        MetricOps.multiRocAuc(events, col("user_id") % 3, col("probs"), 3,
          groups, weighted))
  }

  test("a warm re-run of plans needing more than Spark's default 100 " +
      "codegen cache entries compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // graftbench's analytics queries: 124 compiled classes when this
    // spec runs alone (fewer after specs that compile some of the same
    // classes), so at 100 entries the second round recompiles most
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q_roc_auc", "q_multi_roc_auc", "q_spearman",
      "q_normal_test", "q_ridge", "q_rolling_lin_reg", "q_kendall_tau",
      "q_topk_group")
    def round(): Long = {
      val c0 = Bench.compiles()
      for (n <- names) graft.util.Release.scopedValue(spark)(
        SparkEntry.queries(n)(spark, dir).write.format("noop")
          .mode("overwrite").save())
      Bench.compiles() - c0
    }
    round()
    assert(round() == 0)
  }
}
