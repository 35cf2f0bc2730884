package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Minimum-parallelism guard for expensive per-row kernel stages.
  *
  * The bench/test corpora are single-row-group parquet files, so a scan
  * feeding a heavy narrow kernel (tokenize + hash signatures, image
  * decode, LM scoring, link-graph parsing) runs as ONE task no matter
  * how many cores the session has — the kernel stage is serialized
  * before the first exchange even on local[32], and adding cores does
  * not move it (the "one huge unsplittable file" input-skew case,
  * spark_optimization_guide §2.5).
  *
  * [[byKey]] hash-repartitions the frame on a caller-supplied
  * deterministic key to the session's default parallelism, but ONLY
  * when the plan's leaf statistics say the source is small enough that
  * the scan cannot produce that many splits. At production sizes the
  * gate is false and the plan is untouched — no extra exchange is ever
  * paid where the scan already parallelizes. The gate reads leaf
  * `sizeInBytes` statistics only (file-index sizes, already known to
  * the relation) — it never plans or executes the physical query, so
  * the check itself is free. Unknown-size leaves (existing RDDs, local
  * relations past the session threshold, streams) conservatively count
  * as large → no repartition. Hash (not round-robin) partitioning
  * keeps the row→partition map deterministic under task retry
  * (SPARK-23207 concerns round-robin only) and adds no
  * sort-before-repartition pass.
  */
object Spread {

  /** Default leaf bytes per spread partition. */
  private val ChunkBytes: Long = 4L << 20

  /** `df` repartitioned on `key` to a SIZE-PROPORTIONAL partition
    * count (one per [[ChunkBytes]] of leaf bytes, capped at
    * the session default parallelism) when its leaf statistics say the
    * source is too small for the scan to parallelize yet big enough
    * (≥ 4 chunks) that the kernel stage benefits; `df` unchanged
    * otherwise — including any plan that already contains an exchange
    * (repartition/join/aggregate). `key` must be deterministic (an id
    * or content column, never rand()). */
  def byKey(df: DataFrame, key: Column, more: Column*): DataFrame =
    byKeyChunked(df, 0L, key, more: _*)

  /** [[byKey]] with an explicit per-call chunk size — for kernels
    * whose per-byte cost is far above the default calibration (e.g.
    * regex link extraction over small HTML sources), where even a
    * sub-chunk source deserves the spread. `chunkBytes <= 0` uses
    * [[ChunkBytes]]. */
  def byKeyChunked(df: DataFrame, chunkBytes: Long, key: Column,
                   more: Column*): DataFrame = {
    // streaming frames: micro-batch parallelism is the source's
    // concern, and logical stats are not meaningful pre-trigger
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val want = spark.sparkContext.defaultParallelism
    if (want <= 1) return df
    // a plan that already contains an exchange-creating node
    // (repartition, join, aggregate) has distribution established —
    // the guard targets narrow kernel chains sitting directly on a
    // scan, and re-shuffling here would just add an exchange (and, for
    // an explicit upstream repartition, undo the caller's spread of an
    // expensive projection)
    val widened = df.queryExecution.analyzed.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionOperation => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Join => p
      case p: org.apache.spark.sql.catalyst.plans.logical.Aggregate => p
    }.isDefined
    if (widened) return df
    val maxSplit =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
      catch { case scala.util.control.NonFatal(_) => 134217728L }
    // a source above (want/2) splits' worth of bytes parallelizes at
    // the scan itself — leave the plan alone
    val cap = BigInt(math.max(1L, maxSplit)) * math.max(1, want / 2)
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val bytes = leaves.map(_.stats.sizeInBytes).sum
    if (leaves.isEmpty || bytes > cap) return df
    // Size-proportional target (guide §2: derive partitioning from
    // input size, never a core-count constant): one partition per
    // [[ChunkBytes]] of source. Bench-sized inputs (≤ a few
    // chunks) stay unsplit — measured: for warm kernels over ~1 MB
    // sources the added exchange plus the 32-task downstream stages
    // cost MORE than the single-task kernel, while sweep-scale inputs
    // (tens of MB per unsplittable file) gain the full kernel
    // parallelism they otherwise never get.
    val chunk = if (chunkBytes > 0L) chunkBytes else ChunkBytes
    val parts = ((bytes + chunk - 1) / chunk).toInt
    if (parts < 4) df
    else df.repartition(math.min(want, parts), (key +: more): _*)
  }
}
