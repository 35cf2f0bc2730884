package graft

import org.apache.spark.sql.functions._
import scala.util.Try

/** Skew-robustness probe (r10 verdict ask #1): times the dedup / CC /
  * band-join / mixing / bloom / bucketed-join flagships on the
  * [[MakeSkew]] uniform and skew twins (same row counts, different key
  * distribution) plus two direct operator probes (PageRank with a
  * 30%-in-degree hub; saltedAgg over the hot-user events), and prints
  * one JSON line with per-query uniform/skew seconds and the ratio.
  *
  * Acceptance (BASELINE.md): no flagship > 3× its uniform-twin time.
  * Each timing is best-of-2 (single-shot local[32] timings carry
  * GC/scheduling jitter; a real skew pathology survives the retry).
  *
  * Usage: `SPARK_GRAFT_CPUS=32 runMain graft.SkewBench <outRootFromMakeSkew>`
  * (the [[Bench.session]] size defaults to 4).
  */
object SkewBench {
  private val flagships = Seq(
    "q_jaccard_dup_pairs", // exact-jaccard buckets, per-block hot split
    "q_dup_clusters",      // jaccard block dedup + CC over hot domain
    "q_dedup_survivors",   // cluster survivorship groupBy hot source
    "q_minhash_dup",       // MinHash LSH with the hot band bucket
    "q_simhash_dup",       // SimHash 32-bit bands (r14), hot near-dup bucket
    "q_incremental_dedup", // persisted band-table join, hot bucket
    "q_domain_mix",        // tokenBudgetMix window over the hot domain
    "q_bloom_join",        // bloom prefilter + join on the hot order key
    "q_bucket_join")       // bucketed co-located join, hot customer key

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SkewBench <makeSkewOutRoot>")
    val root = args(0)
    val spark = Bench.session()

    // a failed timing throws: a ratio over a failed run is meaningless
    def bestOf2(f: () => Long): Double = Seq.fill(2) {
      Bench.hygiene(spark)
      val (sec, r) = Bench.timed(f())
      r.get
      sec
    }.min

    // Warm the engine + operator classes once: first-use C2/codegen
    // charges would otherwise land on whichever twin runs first and
    // bias the ratio toward "uniform slow". A warm-up failure is loud
    // (its flagship's uniform timing then carries that cost), and an
    // OOM here crashes rather than hides.
    Bench.warmJvm(spark)
    flagships.foreach { q =>
      Try(Bench.materialize(SparkEntry.queries(q)(spark, s"$root/uniform")))
        .failed.foreach(e => System.err.println(s"[skew] WARM-UP FAILED for " +
          s"$q: $e — its timings below include first-use compilation cost"))
    }

    val rows = scala.collection.mutable.LinkedHashMap[String,
      (Double, Double)]()
    flagships.foreach { q =>
      val fn = SparkEntry.queries(q)
      val u = bestOf2(() => Bench.materialize(fn(spark, s"$root/uniform")))
      val s = bestOf2(() => Bench.materialize(fn(spark, s"$root/skew")))
      rows += q -> (u, s)
      println(f"[skew] $q%-22s uniform=$u%6.2f s  skew=$s%6.2f s  " +
        f"ratio=${s / u}%5.2f")
    }

    // Direct probe 1: PageRank with a hub — 200k nodes, 1M edges; the
    // uniform graph spreads dst by hash, the hub graph points 30% of
    // edges at node 0. Rank contributions shuffle on dst: the hub is a
    // hot reduce key absorbed by partial aggregation.
    def edges(hub: Boolean) = {
      val e = spark.range(1000000L).selectExpr(
        "pmod(xxhash64(id, 'u'), 200000) as u",
        "pmod(xxhash64(id, 'v'), 200000) as v")
      if (!hub) e
      else e.withColumn("v",
        when(pmod(xxhash64(col("u"), col("v")), lit(100L)) < 30L, 0L)
          .otherwise(col("v")))
    }
    def prTime(hub: Boolean): Double = bestOf2 { () =>
      graft.graph.PageRankOps.pageRank(edges(hub), col("u"), col("v"),
        iterations = 8).count()
    }
    // force the distributed loop — 200k nodes is under the 2M driver
    // fast-path cap, which would bypass the shuffle being probed
    System.setProperty("graft.maxLocalPagerank", "0")
    val (prU, prS) = try (prTime(false), prTime(true))
      finally System.clearProperty("graft.maxLocalPagerank")
    rows += "pagerank_hub" -> (prU, prS)
    println(f"[skew] pagerank_hub           uniform=$prU%6.2f s  " +
      f"skew=$prS%6.2f s  ratio=${prS / prU}%5.2f")

    // Direct probe 2: saltedAgg over events (30% of skew rows on one
    // user) — the documented hot-key mitigation in ops/ScaleOps.
    def saltTime(twin: String): Double = bestOf2 { () =>
      val ev = spark.read.parquet(s"$root/$twin/events.parquet")
      graft.ops.ScaleOps.saltedAgg(ev, Seq("user_id"), 32,
        Seq(("sum", "value", "sum_v"), ("count", "value", "n"))).count()
    }
    val (saU, saS) = (saltTime("uniform"), saltTime("skew"))
    rows += "salted_agg_hot_user" -> (saU, saS)
    println(f"[skew] salted_agg_hot_user    uniform=$saU%6.2f s  " +
      f"skew=$saS%6.2f s  ratio=${saS / saU}%5.2f")

    val qj = rows.map { case (n, (u, s)) =>
      f""""$n":{"uniform":$u%.3f,"skew":$s%.3f,"ratio":${s / u}%.3f}"""
    }.mkString(",")
    val maxRatio = rows.values.map { case (u, s) => s / u }.max
    println(f"""{"metric":"skew_robustness","max_ratio":$maxRatio%.3f,""" +
      s""""bound":3.0,"pass":${maxRatio <= 3.0},"queries":{$qj}}""")
    spark.stop()
  }
}
