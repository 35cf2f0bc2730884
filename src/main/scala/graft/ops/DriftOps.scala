package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumFuncs
import graft.util.GlobalCumsum

/** Distribution-drift distances between two samples of the same frame —
  * the monitoring layer a 100 TB training-data pipeline puts between
  * corpus snapshots (did the quality-score / length / embedding
  * distribution move between crawls?). The reference's stats family
  * (python/polars_ds/exprs/stats.py) has the hypothesis tests (ks, chi2)
  * but none of the drift DISTANCES; these complete that story:
  * Wasserstein-1 and energy distance (exact, via the pooled-ECDF
  * integral — the same distinct-value compression + keyed running-sum
  * plan as [[StatOps.ks2Samp]], O(distinct) after one aggregate),
  * histogram divergences (KL / Jensen-Shannon / total variation on a
  * shared equal-width binning — two aggregates, bins rows), and the
  * linear-time MMD estimator over embedding columns (Gretton et al.
  * 2012, JMLR 13, §6 — the O(n) pair statistic, no n x n kernel
  * matrix). All plans are algebraic: no driver loops, no quadratic
  * pair enumeration, no zero-key windows (the ungrouped paths route
  * through [[graft.util.GlobalCumsum]]).
  */
object DriftOps {

  private val P = "__drift_"

  /** Exact 1-D ECDF-integral distances between the sample where
    * `inFirst` and the rest, per group: over the pooled distinct values
    * x_(1) < ... < x_(k),
    *   wasserstein = sum |F1 - F2| * dx   (scipy wasserstein_distance),
    *   cramer      = sum (F1 - F2)^2 * dx (Cramer / integrated squared),
    *   energy      = sqrt(2 * cramer)     (scipy energy_distance),
    * with dx the gap to the next pooled value (the last value's term is
    * zero). Returns {groups..., n1, n2, wasserstein, cramer, energy}.
    * One distinct-value aggregate, then running sums and totals from
    * [[graft.util.GlobalCumsum.runningSumsBy]]. */
  def ecdfDistances(df: DataFrame, x: Column, inFirst: Column,
                    groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}s1").cast("double").as(s"${P}c1"),
        (count(lit(1)) - sum(s"${P}s1")).cast("double").as(s"${P}c2"))
    val sums = Seq(col(s"${P}c1") -> s"${P}f1", col(s"${P}c2") -> s"${P}f2")
    val totals =
      Seq(col(s"${P}c1") -> s"${P}n1", col(s"${P}c2") -> s"${P}n2")
    // the next pooled value: a lead() over the group window, or with no
    // keys the row's global rank (a running count) self-joined
    // rank -> rank+1 (both sides share GlobalCumsum's persisted range
    // partitioning)
    val cum =
      if (gc.nonEmpty)
        GlobalCumsum.runningSumsBy(byV, gc, col(s"${P}x"), ascending = true,
            sums, totals)
          .withColumn(s"${P}nx", lead(col(s"${P}x"), 1).over(
            Window.partitionBy(gc: _*).orderBy(col(s"${P}x"))))
      else {
        val ranked = GlobalCumsum.runningSumsBy(byV, Nil, col(s"${P}x"),
          ascending = true, sums :+ (lit(1L) -> s"${P}rk"), totals)
        val nextX = ranked.select((col(s"${P}rk") - 1).as(s"${P}rk"),
          col(s"${P}x").as(s"${P}nx"))
        ranked.join(nextX, Seq(s"${P}rk"), "left")
      }
    val dx = when(col(s"${P}nx").isNull, lit(0.0))
      .otherwise(col(s"${P}nx") - col(s"${P}x"))
    val diff = col(s"${P}f1") / col(s"${P}n1") -
      col(s"${P}f2") / col(s"${P}n2")
    val agged = cum.groupBy(gc: _*)
      .agg(sum(abs(diff) * dx).as("wasserstein"),
        sum(diff * diff * dx).as(s"${P}cr"),
        first(s"${P}n1").as(s"${P}n1"), first(s"${P}n2").as(s"${P}n2"))
    agged.select(gc ++ Seq(
      col(s"${P}n1").cast("long").as("n1"),
      col(s"${P}n2").cast("long").as("n2"),
      col("wasserstein"),
      col(s"${P}cr").as("cramer"),
      sqrt(col(s"${P}cr") * 2.0).as("energy")): _*)
  }

  /** Histogram divergences between the sample where `inFirst` and the
    * rest, per group, on a SHARED equal-width binning of the pooled
    * [min, max] range (`bins` cells, the max value clamped into the
    * last cell). With p, q the per-sample bin probabilities and
    * m = (p+q)/2:
    *   js_div  = (sum p ln(p/m) + sum q ln(q/m)) / 2  (nats; 0 ln 0 = 0
    *             — always finite, this is the Jensen-Shannon DIVERGENCE,
    *             scipy's jensenshannon squared),
    *   kl_pq   = sum over bins with p>0 AND q>0 of p ln(p/q)
    *             (support-restricted KL: bins where only one side has
    *             mass are EXCLUDED rather than emitting infinity —
    *             documented divergence from the textbook definition,
    *             chosen so drift dashboards get a finite number),
    *   kl_qp   = the reverse,
    *   tv_dist = max over bins of |P(A) - Q(A)| = sum |p - q| / 2.
    * Returns {groups..., bins, js_div, kl_pq, kl_qp, tv_dist}. Two
    * aggregates (range, then bin counts); the bin table is `bins` rows
    * per group — never row-scale. */
  def histDivergences(df: DataFrame, x: Column, inFirst: Column,
                      groupNames: Seq[String], bins: Int): DataFrame = {
    require(bins >= 2, s"histDivergences: bins must be >= 2, got $bins")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val range = t.groupBy(gc: _*)
      .agg(min(s"${P}x").as(s"${P}lo"), max(s"${P}x").as(s"${P}hi"))
    val joined = t.join(range, groupNames)
    val width = col(s"${P}hi") - col(s"${P}lo")
    // constant column (width 0) -> everything in bin 0
    val bin = when(width <= 0.0, lit(0))
      .otherwise(least(
        floor((col(s"${P}x") - col(s"${P}lo")) / width * bins),
        lit(bins - 1)).cast("int"))
    val byBin = joined.withColumn(s"${P}b", bin)
      .groupBy(gc :+ col(s"${P}b"): _*)
      .agg(sum(s"${P}s1").cast("double").as(s"${P}c1"),
        (count(lit(1)) - sum(s"${P}s1")).cast("double").as(s"${P}c2"))
    val wTot = Window.partitionBy(gc: _*)
    val probs = byBin
      .withColumn(s"${P}p", col(s"${P}c1") / sum(s"${P}c1").over(wTot))
      .withColumn(s"${P}q", col(s"${P}c2") / sum(s"${P}c2").over(wTot))
    val p = col(s"${P}p"); val q = col(s"${P}q")
    val m = (p + q) / 2.0
    val plnpm = when(p > 0.0, p * log(p / m)).otherwise(0.0)
    val qlnqm = when(q > 0.0, q * log(q / m)).otherwise(0.0)
    val klpq = when(p > 0.0 && q > 0.0, p * log(p / q)).otherwise(0.0)
    val klqp = when(p > 0.0 && q > 0.0, q * log(q / p)).otherwise(0.0)
    probs.groupBy(gc: _*)
      .agg(((sum(plnpm) + sum(qlnqm)) / 2.0).as("js_div"),
        sum(klpq).as("kl_pq"), sum(klqp).as("kl_qp"),
        (sum(abs(p - q)) / 2.0).as("tv_dist"))
      .select(gc ++ Seq(lit(bins).as("bins"), col("js_div"),
        col("kl_pq"), col("kl_qp"), col("tv_dist")): _*)
  }

  /** Linear-time MMD^2 estimator (Gretton et al. 2012, JMLR 13,
    * lemma 14) between the embedding rows where `inFirst` and the rest,
    * with the RBF kernel k(u,v) = exp(-gamma * ||u-v||^2):
    * rank each sample by the (unique) `ord` column, pair consecutive
    * rows (x_{2i-1}, x_{2i}) / (y_{2i-1}, y_{2i}), align the i-th pairs
    * of the two samples, and average
    *   h_i = k(x1,x2) + k(y1,y2) - k(x1,y2) - k(x2,y1)
    * over the min(m1, m2) complete aligned pairs. Unbiased, O(n), and
    * — the point at 100 TB — never materializes a kernel matrix: the
    * plan is two GlobalCumsum rank passes, a pair-key aggregate
    * (min_by/max_by), and one shuffle join on the pair index. Returns
    * one row {m_pairs, mmd2, mmd} (mmd = sqrt(max(mmd2, 0)) — the
    * estimator can go slightly negative under H0 by design). */
  def mmdLinear(df: DataFrame, vec: Column, ord: Column, inFirst: Column,
                gamma: Double): DataFrame = {
    require(gamma > 0.0, s"mmdLinear: gamma must be > 0, got $gamma")
    val base = df.select(vec.cast("array<double>").as(s"${P}v"),
      ord.as(s"${P}o"), inFirst.cast("boolean").as(s"${P}in"))
    def pairs(side: DataFrame): DataFrame = {
      val ranked = GlobalCumsum.runningSums(side,
        col(s"${P}o"), ascending = true, Seq(lit(1L) -> s"${P}rk"))
      ranked
        .withColumn(s"${P}pair", ((col(s"${P}rk") - 1L) / 2L).cast("long"))
        .groupBy(s"${P}pair")
        .agg(min_by(col(s"${P}v"), col(s"${P}rk")).as(s"${P}a"),
          max_by(col(s"${P}v"), col(s"${P}rk")).as(s"${P}b"),
          count(lit(1)).as(s"${P}cnt"))
        .filter(col(s"${P}cnt") === 2)
    }
    val px = pairs(base.filter(col(s"${P}in")))
      .select(col(s"${P}pair"), col(s"${P}a").as(s"${P}x1"),
        col(s"${P}b").as(s"${P}x2"))
    val py = pairs(base.filter(!col(s"${P}in")))
      .select(col(s"${P}pair"), col(s"${P}a").as(s"${P}y1"),
        col(s"${P}b").as(s"${P}y2"))
    def k(u: Column, v: Column): Column =
      exp(lit(-gamma) * NumFuncs.arrSql2Dist(u, v))
    val h = k(col(s"${P}x1"), col(s"${P}x2")) +
      k(col(s"${P}y1"), col(s"${P}y2")) -
      k(col(s"${P}x1"), col(s"${P}y2")) -
      k(col(s"${P}x2"), col(s"${P}y1"))
    val agged = px.join(py, Seq(s"${P}pair"))
      .agg(count(lit(1)).as("m_pairs"), avg(h).as("mmd2"))
    agged.select(col("m_pairs"), col("mmd2"),
      sqrt(greatest(col("mmd2"), lit(0.0))).as("mmd"))
  }
}
