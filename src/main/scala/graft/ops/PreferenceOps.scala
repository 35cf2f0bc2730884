package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bradley–Terry preference-strength fitting via the MM algorithm
  * (Hunter 2004, "MM algorithms for generalized Bradley–Terry
  * models") — the aggregation step for pairwise preference data
  * (RLHF comparison logs, A/B evals, tournaments): given (winner,
  * loser) rows, find strengths s with p(i beats j) = s_i/(s_i+s_j)
  * maximizing the likelihood. The MM update
  *
  *   s_i' = W_i / Σ_{j pairs with i} n_ij/(s_i+s_j)
  *
  * (W_i = wins of i, n_ij = games between i and j) monotonically
  * increases the likelihood; strengths are renormalized to mean 1
  * every round (the BT scale is only defined up to a constant).
  *
  * The MLE requires every player to have ≥ 1 win and ≥ 1 loss
  * (undefeated players diverge to ∞) — enforced with a loud require.
  *
  * Scale shape: ONE aggregation pass over the match log produces the
  * unordered pair table carrying per-pair win splits
  * (a, b, n, a_wins) — map-side combined, so the only match-log-sized
  * work is the scan and the shuffle carries pair-table rows. Every
  * other quantity (wins, losses, games, the degeneracy check) derives
  * from that table, never from a second pass over the log. Below
  * `graft.maxLocalBt` pairs the whole fit runs on the driver from a
  * single collect of the persisted pair table: a count decides the
  * local/distributed branch (persist+count, not limit-collect — see
  * GraphOps on CollectLimitExec's incremental re-execution) and the
  * collect reads the cached blocks (the r8 profile showed the old
  * shape spent 7+ s of fixed job-count overhead fitting 16 players).
  * Beyond the cap,
  * the distributed MM loop takes over: pairs and the per-player stats
  * persist once, the degeneracy check is one aggregation job, and
  * each iteration is one join + one groupBy over the pair table with
  * localCheckpoint lineage cuts.
  */
object PreferenceOps {

  def bradleyTerry(df: DataFrame, winner: Column, loser: Column,
                   iterations: Int = 15): DataFrame = {
    require(iterations >= 1,
      s"bradleyTerry: iterations must be >= 1, got $iterations")
    val spark = df.sparkSession
    val m = df.select(winner.cast("long").as("w"),
        loser.cast("long").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
    // Single pass: unordered pair key + how many of the n games the
    // lower id (a) won. wins/losses/games per player all fold out of
    // this table.
    val pairs = m
      .select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"),
        when(col("w") < col("l"), 1L).otherwise(0L).as("awin"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("awin")).as("aw"))
    val cap = java.lang.Long.getLong("graft.maxLocalBt", 2000000L)

    // Decide small-vs-large with persist + count, NOT a limit-collect:
    // CollectLimitExec executes incrementally (1 partition, then ×4,
    // ×16, …) and each widening attempt re-runs the groupBy above —
    // above-cap tables would collect ~cap rows only to discard them.
    // One count on the persisted frame evaluates the aggregation once;
    // the collect (small case) and distributedFit's first stats pass
    // (large case) both read the cached blocks.
    // persist-ok: both branches below unpersist it
    val cached = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = cached.count()
    if (nPairs <= cap) {
      // Driver fast path: one count + one collect on cached blocks.
      val head = cached.collect()
      cached.unpersist(blocking = false)
      val pa = head.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val wmap = scala.collection.mutable.LongMap.empty[Long]
      val gmap = scala.collection.mutable.LongMap.empty[Long]
      pa.foreach { case (a, b, n, aw) =>
        wmap(a) = wmap.getOrElse(a, 0L) + aw
        wmap(b) = wmap.getOrElse(b, 0L) + (n - aw)
        gmap(a) = gmap.getOrElse(a, 0L) + n
        gmap(b) = gmap.getOrElse(b, 0L) + n
      }
      val ids = gmap.keys.toArray.sorted
      val nBad = ids.count(id =>
        wmap.getOrElse(id, 0L) == 0L ||
          wmap.getOrElse(id, 0L) == gmap(id))
      require(nBad == 0,
        s"bradleyTerry: $nBad player(s) have no win or no loss — " +
          "the BT MLE diverges for them. Filter them out (or add " +
          "regularizing pseudo-games) before fitting.")
      val idx = ids.zipWithIndex.toMap
      val wArr = ids.map(wmap(_).toDouble)
      var s = Array.fill(ids.length)(1.0)
      var it = 0
      while (it < iterations) {
        val den = new Array[Double](ids.length)
        pa.foreach { case (a, b, n, _) =>
          val t = n / (s(idx(a)) + s(idx(b)))
          den(idx(a)) += t; den(idx(b)) += t
        }
        val next = Array.tabulate(ids.length)(i => wArr(i) / den(i))
        val mean = next.sum / ids.length
        var i = 0
        while (i < ids.length) { next(i) /= mean; i += 1 }
        s = next
        it += 1
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        ids.indices.map(i => org.apache.spark.sql.Row(
          ids(i), s(i), wmap(ids(i)), gmap(ids(i)))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("strength",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("wins",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("games",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } else {
      // scoped() inside distributedFit eagerly materializes the result,
      // so the pair cache can be dropped as soon as it returns.
      val out = distributedFit(spark, cached, iterations)
      cached.unpersist(blocking = false)
      out
    }
  }

  /** Distributed MM loop for pair tables above graft.maxLocalBt, over
    * the caller's cached pair table. Release.scoped drops every
    * persisted intermediate once the result is materialized.
    */
  private def distributedFit(spark: org.apache.spark.sql.SparkSession,
                             pairs: DataFrame,
                             iterations: Int): DataFrame = {
    graft.util.Release.scoped(spark) {
      // per-player wins/games from the pair table (pair-table-sized
      // shuffle, never match-log-sized)
      val stats = graft.util.Release.persist(pairs
        .select(col("a").as("id"), col("n"), col("aw").as("wins"))
        .unionAll(pairs.select(col("b").as("id"), col("n"),
          (col("n") - col("aw")).as("wins")))
        .groupBy(col("id"))
        .agg(sum(col("n")).as("games"), sum(col("wins")).as("wins")))
      // one job: player count + degeneracy count together
      val chk = stats.agg(count(lit(1)).as("np"),
        sum(when(col("wins") === 0L ||
          col("wins") === col("games"), 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      val nP = chk.getLong(0)
      val nBad = chk.getLong(1)
      require(nBad == 0,
        s"bradleyTerry: $nBad player(s) have no win or no loss — " +
          "the BT MLE diverges for them. Filter them out (or add " +
          "regularizing pseudo-games) before fitting.")
      var s = graft.util.Release.persist(
        stats.select(col("id"), lit(1.0).as("strength")))
      var it = 0
      while (it < iterations) {
        val j = pairs
          .join(s.select(col("id").as("a"),
            col("strength").as("sa")), Seq("a"))
          .join(s.select(col("id").as("b"),
            col("strength").as("sb")), Seq("b"))
          .select(col("a"), col("b"),
            (col("n") / (col("sa") + col("sb"))).as("t"))
        val den = j.select(col("a").as("id"), col("t"))
          .unionAll(j.select(col("b").as("id"), col("t")))
          .groupBy(col("id")).agg(sum(col("t")).as("den"))
        val raw = stats.join(den, Seq("id"))
          .select(col("id"),
            (col("wins").cast("double") / col("den")).as("st"))
        val tot = raw.agg(sum(col("st")).as("tot"))
        val next = graft.util.Release.persist(raw.crossJoin(tot)
          .select(col("id"),
            (col("st") * nP / col("tot")).as("strength"))
          .localCheckpoint(false))
        next.count()
        s.unpersist(blocking = false)
        s = next
        it += 1
      }
      s.join(stats, Seq("id"))
        .select(col("id"), col("strength"), col("wins"),
          col("games"))
    }
  }
}
