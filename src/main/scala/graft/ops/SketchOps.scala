package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximations with explicit error contracts.
  *
  * At 100 TB, `COUNT(DISTINCT x)` and exact percentiles are the two
  * aggregations that stop scaling: both need a full shuffle of the
  * distinct values / a full sort. Spark ships mergeable sketches for
  * each — HyperLogLog++ (`approx_count_distinct`, relative-error
  * parameter) and the Greenwald-Khanna/KLL-style quantile summary
  * (`percentile_approx`, max rank error n/accuracy) — whose partials
  * combine associatively, so the whole job is one map-side pass plus a
  * tiny merge. These helpers pair each sketch with its exact twin and
  * a tolerance flag, so correctness gates can assert the error
  * contract itself (the flags are the testable property; the exact
  * twin is only affordable at test scale).
  *
  * The reference exposes no sketches (Polars COUNT DISTINCT/quantile
  * are single-node exact); this is Spark-native scale surface.
  */
object SketchOps {

  /** One-row report: exact vs HLL distinct count of `key`, exact vs
    * sketched p50/p95 of `value`, and bool flags asserting the sketch
    * error stayed within `relTol`. Percentile lattice note: exact
    * percentiles interpolate `a + frac·(b-a)` — round at ≥ the input
    * decimal precision + interpolation decimals when oracle-checking. */
  def accuracyReport(df: DataFrame, key: Column, value: Column,
                     relTol: Double = 0.05,
                     hllRsd: Double = 0.02,
                     pctAccuracy: Int = 10000): DataFrame = {
    val agg = df.agg(
      count_distinct(key).as("exact_cd"),
      approx_count_distinct(key, hllRsd).as("_hll"),
      percentile(value, lit(0.5)).as("_p50"),
      percentile(value, lit(0.95)).as("_p95"),
      percentile_approx(value, lit(0.5), lit(pctAccuracy)).as("_ap50"),
      percentile_approx(value, lit(0.95), lit(pctAccuracy)).as("_ap95"))
    agg.select(
      col("exact_cd"),
      (abs(col("_hll") - col("exact_cd")) <=
        col("exact_cd") * relTol).as("cd_ok"),
      round(col("_p50"), 6).as("p50"),
      round(col("_p95"), 6).as("p95"),
      (abs(col("_ap50") - col("_p50")) <=
        abs(col("_p50")) * relTol).as("p50_ok"),
      (abs(col("_ap95") - col("_p95")) <=
        abs(col("_p95")) * relTol).as("p95_ok"))
  }

  /** Heavy hitters: `df.stat.freqItems` (Karp-Papadimitriou-Shenker
    * one-pass counters, fixed memory) against the exact count twin.
    * freqItems' contract is one-sided — every sufficiently frequent
    * item IS returned (plus possible false positives); `hh_ok` asserts
    * that containment held. Spark sizes the KPS map as
    * floor(1/support), which only guarantees items with frequency >
    * 1/floor(1/support) — slightly WEAKER than `> support` — so the
    * sketch runs at support/2 to make its guarantee cover our
    * threshold. Output: the exact top-`topK` keys by count (ties
    * broken by key — deterministic across engines) with the contract
    * flag on each row; empty input yields an empty frame. */
  def heavyHitters(df: DataFrame, key: String, support: Double,
                   topK: Int): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    val cached = counts.persist() // persist-ok: the finally below unpersists it
    try {
      val total = Option(cached.agg(sum(col("n"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val trueHH = cached.filter(col("n") > total * support)
        .select(col(key)).collect().map(_.get(0)).toSet
      // freqItems requires its support ≥ 1e-4, so floor the sketch
      // support there. The containment guarantee survives: freqItems(s)
      // returns every item with frequency > s·total, and the floored s
      // stays ≤ `support`, so true heavy hitters (> support·total) are
      // still covered. Below 1e-4 the sketch cannot honor the contract
      // at all — fail loud instead of throwing Spark's opaque error.
      require(support >= 1e-4,
        s"heavyHitters: support=$support is below Spark freqItems' " +
          "1e-4 minimum; use exact counting (groupBy) for rarer items")
      val approx = df.stat.freqItems(Seq(key), math.max(support / 2, 1e-4))
        .head().getSeq[Any](0).toSet
      val ok = trueHH.subsetOf(approx)
      // materialize the tiny top-k before dropping the counts cache so
      // the caller's consume doesn't recompute the aggregation
      cached.orderBy(col("n").desc, col(key))
        .limit(topK)
        .withColumn("hh_ok", lit(ok))
        .localCheckpoint(true)
    } finally { cached.unpersist() }
  }

  /** Per-group sketched median with its exact twin and error flag —
    * the groupBy form is where the mergeable-sketch property pays:
    * one shuffle of fixed-size sketch partials instead of all values. */
  def groupedQuantileReport(df: DataFrame, groupKey: Column,
                            value: Column, q: Double,
                            relTol: Double = 0.05,
                            pctAccuracy: Int = 10000): DataFrame =
    df.groupBy(groupKey)
      .agg(
        percentile(value, lit(q)).as("_exact"),
        percentile_approx(value, lit(q), lit(pctAccuracy)).as("_approx"))
      .select(groupKey,
        round(col("_exact"), 6).as("q_exact"),
        (abs(col("_approx") - col("_exact")) <=
          abs(col("_exact")) * relTol).as("q_ok"))
}
