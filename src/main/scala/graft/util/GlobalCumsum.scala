package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Running sums, per group or over the whole frame, WITHOUT an
  * unbounded single-partition WindowExec.
  *
  * `Window.orderBy(x)` with no partition keys plans a WindowExec that
  * drags every row through ONE task ("Moving all data to a single
  * partition" in the physical plan) — correct at bench scale, fatal at
  * 100 TB. This helper re-expresses the global cumulative sum as:
  *
  *   1. `repartitionByRange(P, order)` — parallel range shuffle; equal
  *      keys land in one partition, partition p's keys all precede
  *      partition p+1's. P derives from the plan's LEAF bytes (one
  *      partition per 256 KiB, capped at the session
  *      parallelism — the Spread recipe) so tiny rank tables skip the
  *      sampling pass and the 32-way fan-out, while unknown-size
  *      inputs conservatively get full parallelism.
  *   2. per-partition running sum via a sortWithinPartitions +
  *      mapPartitions scan — P-way parallel and, unlike the former
  *      `Window.partitionBy(__pid)` formulation, needing NO second
  *      exchange (the window's ClusteredDistribution(__pid) requirement
  *      re-shuffled 100% of the bytes right after the range exchange).
  *   3. per-partition totals aggregated by `__pid` (≤ P rows), their
  *      exclusive prefix sum taken with a window over that BOUNDED
  *      frame (its input cardinality is the partition count, never the
  *      data size), broadcast-joined back on `__pid`.
  *
  * global_cumsum(row) = within-partition cumsum + offset(partition).
  *
  * The range-partitioned frame MUST be pinned: the plan references it
  * twice (offsets + local cumsums), and RangePartitioner's sample seed
  * derives from the RDD id — two independently-sampled bound sets can
  * differ, landing the same row in different `spark_partition_id`s on
  * the two sides and silently mis-joining the offsets (observed: AUC
  * off by 1e-3 when exchange reuse didn't kick in). A LAZY persist is
  * the right pin: one cached RDD = one RangePartitioner (bounds are
  * part of the single RDD lineage), so concurrent consumer branches
  * racing the cache fill can only duplicate work, never mis-join —
  * and an eager localCheckpoint barrier here measured ~2× slower warm
  * on large rank tables (r17, q_corr_table). Blocks are reclaimed by
  * Release.scoped/scopedValue callers, the session's periodic
  * cleaner, or explicit unpersist (Quantiles.exact).
  *
  * The inclusive frame (unboundedPreceding..currentRow) is computed;
  * callers needing the exclusive frame subtract the row's own value
  * (cum − cnt, exact for integral counts). Rows whose `order` value
  * ties are NOT distinguishable by a rows-frame, so call this on a
  * distinct-key table (rank callers compress to distinct thresholds
  * first; series callers pass a unique order) or treat the result as
  * rangeBetween semantics per tie-group.
  *
  * This object is the ONE place that decides grouped vs whole-frame.
  * Operators never branch on empty group keys: running sums and
  * per-group totals go through [[runningSumsBy]], tie-averaged ranks
  * through [[midRanks]], and per-group stats meet their rows via
  * `rows.join(stats, groupNames)` — with no names that join plans as
  * the same broadcast nested-loop join of the one stats row as an
  * explicit `crossJoin(broadcast(stats))`.
  */
object GlobalCumsum {

  private val PID = "__gcs_pid"

  /** Add inclusive global running sums of `sums._1` ordered by `order`
    * (ascending or descending), one output column per `sums._2` name.
    * Only int, long, float and double columns can be summed (the
    * per-partition kernel reads them unboxed); the sums come out as
    * double. All original columns pass through. `numParts` overrides the range
    * partition count (default: derived from leaf bytes, capped at the
    * session's parallelism) — exposed so the offset algebra is testable
    * at every partition count and so callers with tiny key tables can
    * skip over-partitioning. */
  def runningSums(df: DataFrame, order: Column, ascending: Boolean,
                  sums: Seq[(Column, String)],
                  numParts: Option[Int] = None): DataFrame =
    runningSumsMulti(df, Seq(order), ascending, sums, numParts)

  /** Inclusive running sums of `sums` ordered by `order` within each
    * group of `groups`, plus each group's `totals` (sums over the whole
    * group), one output column per name; all original columns pass
    * through. With keys: a `Window.partitionBy(groups)` rows-frame
    * (parallel by group cardinality), sums keep Spark's sum type. With
    * no keys: the range-partitioned [[runningSums]] kernel (sums come
    * out as double) and the totals from one aggregate broadcast back —
    * a zero-column window would drag the whole table through one task.
    * Same distinct-key caveat as [[runningSums]]. */
  def runningSumsBy(df: DataFrame, groups: Seq[Column], order: Column,
                    ascending: Boolean, sums: Seq[(Column, String)],
                    totals: Seq[(Column, String)] = Nil): DataFrame =
    if (groups.nonEmpty) {
      val wGroup = Window.partitionBy(groups: _*)
      val wRun = wGroup.orderBy(if (ascending) order.asc else order.desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = sums.foldLeft(df) { case (d, (c, name)) =>
        d.withColumn(name, sum(c).over(wRun))
      }
      totals.foldLeft(run) { case (d, (c, name)) =>
        d.withColumn(name, sum(c).over(wGroup))
      }
    } else {
      val run = runningSums(df, order, ascending, sums)
      if (totals.isEmpty) run
      else {
        val tot = totals.map { case (c, name) => sum(c).as(name) }
        run.crossJoin(broadcast(df.agg(tot.head, tot.tail: _*)))
      }
    }

  /** Tie-averaged (mid) rank of `value` within each group, as column
    * `out`, over a table with one row per distinct (groups, value) and
    * that value's row `count`: cum − count + (count + 1) / 2, with cum
    * the inclusive running count ([[runningSumsBy]], ascending). The
    * result is the exact integer-or-half average rank. */
  def midRanks(byValue: DataFrame, groups: Seq[Column], value: Column,
               count: Column, out: String): DataFrame = {
    val cum = "__gcs_cum"
    runningSumsBy(byValue, groups, value, ascending = true,
        Seq(count -> cum))
      .withColumn(out, col(cum) - count + (count + 1.0) / 2.0)
      .drop(cum)
  }

  /** [[runningSums]] over a COMPOSITE order key (lexicographic over
    * `orders`) — lets several per-key cumsum pipelines share ONE range
    * exchange by stacking them under a discriminator column (e.g.
    * corrTable's per-column rank maps ordered by (column, value)). */
  def runningSumsMulti(df: DataFrame, orders: Seq[Column],
                       ascending: Boolean,
                       sums: Seq[(Column, String)],
                       numParts: Option[Int] = None): DataFrame = {
    require(sums.nonEmpty, "GlobalCumsum.runningSums: no sum columns")
    require(orders.nonEmpty, "GlobalCumsum.runningSums: no order columns")
    require(numParts.forall(_ >= 1),
      s"GlobalCumsum.runningSums: numParts must be >= 1, got $numParts")
    val spark = df.sparkSession
    val want = spark.sparkContext.defaultParallelism
    val p = numParts.getOrElse {
      // size-derived partition count (guide §2: derive partitioning
      // from input size). Leaf bytes BOUND the aggregate fed in here;
      // unknown-size leaves report the session default (huge) and
      // conservatively keep full parallelism. p = 1 additionally
      // skips RangePartitioner's sampling pass entirely. The chunk is
      // deliberately much smaller than Spread's kernel calibration:
      // rank tables inflate leaf bytes ~10× (parquet-compressed
      // columns → stacked in-memory rows) and the per-partition work
      // here is a sort, not a cheap projection (measured: a 650k-row
      // rank table at p=2 ran ~1.5× slower than the former 32-way
      // window — 256 KB chunks restore the parallelism where the
      // source is big enough to need it).
      val chunk = 256L << 10
      val bytes = df.queryExecution.analyzed.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      val byBytes = (bytes + chunk - 1) / chunk
      if (byBytes >= want) math.max(1, want)
      else math.max(1, byBytes.toInt)
    }
    val ords = orders.map(o => if (ascending) o.asc else o.desc)
    // materialize each summed expression as a column BEFORE the range
    // shuffle so the per-partition scan below can read it by index
    val sCols = sums.indices.map(i => s"__gcs_s$i")
    val withS = sums.zipWithIndex.foldLeft(df) { case (d, ((c, _), i)) =>
      d.withColumn(s"__gcs_s$i", c)
    }
    val parted = withS.repartitionByRange(p, ords: _*)
      .withColumn(PID, spark_partition_id())
      // persist-ok: backs the lazily returned frame, so no scope here
      // can release it; the caller's scope drops its blocks (the entry
      // stays). Replacing it is ROADMAP direction 4's exec.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-partition inclusive cumsum — P-way parallel, zero exchanges:
    // a narrow in-partition sort then one sequential InternalRow scan
    // (org.apache.spark.sql.graft.InternalCumsum — the boxed
    // Row/RowEncoder formulation measured 2× slower on a 700k-row rank
    // table), accumulating exactly like the former
    // Window.partitionBy(__pid) rows-frame (same order, same per-type
    // Sum semantics: int/long → long, float/double → double, nulls
    // skipped, all-null prefix → null).
    val sorted = parted.sortWithinPartitions(ords: _*)
    val withLocal = org.apache.spark.sql.graft.InternalCumsum
      .perPartition(sorted, sCols, sums.indices.map(i => s"__gcs_l$i"))
    // exclusive prefix of per-partition totals: ≤ P rows, so the
    // zero-partition window here is bounded by the PARTITION COUNT,
    // not the data — the one place a single-task window is safe by
    // construction.
    val totAggs = sCols.zipWithIndex.map { case (s, i) =>
      coalesce(sum(col(s)), lit(0L)).cast("double").as(s"__gcs_t$i")
    }
    val wOff = Window.orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = parted.groupBy(col(PID)).agg(totAggs.head, totAggs.tail: _*)
    val offsets = sums.indices.foldLeft(offsets0) { (d, i) =>
      d.withColumn(s"__gcs_o$i",
        coalesce(sum(s"__gcs_t$i").over(wOff), lit(0.0)))
    }.select(col(PID) +: sums.indices.map(i => col(s"__gcs_o$i")): _*)
    val joined = withLocal.join(broadcast(offsets), PID)
    val out = sums.zipWithIndex.foldLeft(joined) {
      case (d, ((_, name), i)) =>
        d.withColumn(name, col(s"__gcs_l$i") + col(s"__gcs_o$i"))
    }
    out.drop(PID +: sums.indices.flatMap(i =>
      Seq(s"__gcs_s$i", s"__gcs_l$i", s"__gcs_o$i")): _*)
  }
}
