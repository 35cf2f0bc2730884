package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues
import graft.util.GlobalCumsum

/** Model- and series-diagnostic tests that the reference's stats family
  * (python/polars_ds/exprs/stats.py) stops short of: portmanteau
  * autocorrelation tests, heteroscedasticity, randomness-of-sequence,
  * k-sample medians, distributional distance beyond KS, exact 2x2
  * independence, long-memory and signal-complexity features, and scale
  * reliability. All are algebraic two-phase plans: a per-group moment /
  * rank pass (map-side combinable) joined back once, then one closing
  * aggregate — no per-group buffering, no driver loops over data.
  */
object DiagOps {

  private val P = "__diag_"

  /** Ljung-Box (and Box-Pierce) portmanteau test for autocorrelation up
    * to `maxLag`, per group, over the series ordered by `ord`.
    * Q_lb = n(n+2) * sum_k rho_k^2 / (n-k);  Q_bp = n * sum_k rho_k^2,
    * rho_k the standard biased autocorrelation estimator (full-sample
    * mean, denominator sum (x-mean)^2). Returns one row per group:
    * {groups..., n, statistic, bp_statistic, df, pvalue}.
    * One window pass emits all `maxLag` lags; the group mean arrives by
    * a single agg+join, so the plan is two shuffles regardless of k. */
  def ljungBox(df: DataFrame, x: Column, ord: Column,
               groupNames: Seq[String], maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"ljungBox: maxLag must be >= 1, got $maxLag")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val lagged = base.select((gc :+ col(s"${P}x")) ++
      (1 to maxLag).map(k => lag(col(s"${P}x"), k).over(w)
        .as(s"${P}l$k")): _*)
    val stats = base.groupBy(gc: _*)
      .agg(avg(s"${P}x").as(s"${P}m"),
        count(col(s"${P}x")).cast("double").as(s"${P}n"))
    val m = col(s"${P}m")
    val covs = (1 to maxLag).map(k =>
      sum((col(s"${P}x") - m) * (col(s"${P}l$k") - m)).as(s"${P}s$k"))
    val agged = lagged.join(stats, groupNames)
      .groupBy(gc: _*)
      .agg(sum((col(s"${P}x") - m) * (col(s"${P}x") - m)).as(s"${P}s0"),
        covs :+ first(s"${P}n").as(s"${P}n"): _*)
    val n = col(s"${P}n")
    val rho2 = (1 to maxLag).map(k =>
      pow(col(s"${P}s$k") / col(s"${P}s0"), 2.0))
    val qLb = (n * (n + 2.0)) *
      rho2.zipWithIndex.map { case (r2, i) => r2 / (n - (i + 1)) }
        .reduce(_ + _)
    val qBp = n * rho2.reduce(_ + _)
    agged.select(gc ++ Seq(n.cast("long").as("n"),
      qLb.as("statistic"), qBp.as("bp_statistic"),
      lit(maxLag).cast("double").as("df"),
      PValues.chi2Sf(qLb, lit(maxLag.toDouble)).as("pvalue")): _*)
  }

  /** Hjorth parameters of the series ordered by `ord`, per group:
    * activity = var_pop(x), mobility = sqrt(var_pop(dx)/var_pop(x)),
    * complexity = mobility(dx)/mobility(x)
    *            = sqrt(var_pop(ddx)/var_pop(dx)) / mobility.
    * The derivative is the first difference; each difference order
    * drops its warmup rows (nulls) from its own variance, matching the
    * common discrete definition. One window pass, one aggregate. */
  def hjorth(df: DataFrame, x: Column, ord: Column,
             groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val d1 = col(s"${P}x") - lag(col(s"${P}x"), 1).over(w)
    val withD = base.withColumn(s"${P}d1", d1)
      .withColumn(s"${P}d2",
        col(s"${P}d1") - lag(col(s"${P}d1"), 1).over(w))
    val agged = withD.groupBy(gc: _*)
      .agg(var_pop(s"${P}x").as(s"${P}v0"),
        var_pop(s"${P}d1").as(s"${P}v1"),
        var_pop(s"${P}d2").as(s"${P}v2"))
    val mob = sqrt(col(s"${P}v1") / col(s"${P}v0"))
    agged.select(gc ++ Seq(col(s"${P}v0").as("activity"),
      mob.as("mobility"),
      (sqrt(col(s"${P}v2") / col(s"${P}v1")) / mob)
        .as("complexity")): _*)
  }

  /** Wald-Wolfowitz runs test for randomness of the sequence of signs
    * of (x - group median), ordered by `ord`, per group. Ties with the
    * median are dropped (the standard convention). Returns
    * {groups..., n1, n2, runs, statistic, pvalue} with the normal
    * approximation z = (R - mu)/sigma, mu = 1 + 2 n1 n2 / n,
    * sigma^2 = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)). */
  def runsTest(df: DataFrame, x: Column, ord: Column,
               groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val med = base.groupBy(gc: _*)
      .agg(median(col(s"${P}x")).as(s"${P}med"))
    val signed = base.join(med, groupNames)
      .filter(col(s"${P}x") =!= col(s"${P}med"))
      .withColumn(s"${P}b", (col(s"${P}x") > col(s"${P}med")).cast("int"))
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val marked = signed.withColumn(s"${P}chg",
      when(lag(col(s"${P}b"), 1).over(w).isNull ||
        lag(col(s"${P}b"), 1).over(w) =!= col(s"${P}b"), 1)
        .otherwise(0))
    val agged = marked.groupBy(gc: _*)
      .agg(sum(s"${P}b").cast("double").as(s"${P}n1"),
        (count(lit(1)) - sum(s"${P}b")).cast("double").as(s"${P}n2"),
        sum(s"${P}chg").cast("double").as(s"${P}r"))
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val n = n1 + n2
    val mu = lit(1.0) + n1 * n2 * 2.0 / n
    val sig2 = (n1 * n2 * 2.0 * (n1 * n2 * 2.0 - n)) / (n * n * (n - 1.0))
    val z = (col(s"${P}r") - mu) / sqrt(sig2)
    agged.select(gc ++ Seq(n1.cast("long").as("n1"),
      n2.cast("long").as("n2"), col(s"${P}r").cast("long").as("runs"),
      z.as("statistic"), PValues.normSf2(z).as("pvalue")): _*)
  }

  /** Mood's median test: k-sample test that the groups defined by
    * `groupNames` share a common median. Counts above / at-or-below the
    * grand median per group (scipy ties='below' convention), then a
    * k x 2 chi-squared with df = k - 1. Returns one row:
    * {statistic, df, pvalue, grand_median}. Two aggregates + one
    * broadcast join of a single-row totals frame. */
  def moodMedian(df: DataFrame, x: Column,
                 groupNames: Seq[String]): DataFrame = {
    require(groupNames.nonEmpty, "moodMedian needs grouping columns")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x"): _*)
    val gm = base.agg(median(col(s"${P}x")).as(s"${P}gm"))
    val counts = base.crossJoin(broadcast(gm))
      .groupBy(gc: _*)
      .agg(sum((col(s"${P}x") > col(s"${P}gm")).cast("double"))
        .as(s"${P}a"),
        sum((col(s"${P}x") <= col(s"${P}gm")).cast("double"))
          .as(s"${P}b"),
        first(s"${P}gm").as(s"${P}gm"))
    val tot = counts.agg(sum(s"${P}a").as(s"${P}ta"),
      sum(s"${P}b").as(s"${P}tb"),
      count(lit(1)).cast("double").as(s"${P}k"))
    val joined = counts.crossJoin(broadcast(tot))
    val nAll = col(s"${P}ta") + col(s"${P}tb")
    val rowTot = col(s"${P}a") + col(s"${P}b")
    val ea = rowTot * col(s"${P}ta") / nAll
    val eb = rowTot * col(s"${P}tb") / nAll
    val cell = pow(col(s"${P}a") - ea, 2.0) / ea +
      pow(col(s"${P}b") - eb, 2.0) / eb
    val res = joined.agg(sum(cell).as(s"${P}stat"),
      (first(s"${P}k") - 1.0).as(s"${P}df"),
      first(s"${P}gm").as("grand_median"))
    res.select(col(s"${P}stat").as("statistic"),
      col(s"${P}df").as("df"),
      PValues.chi2Sf(col(s"${P}stat"), col(s"${P}df")).as("pvalue"),
      col("grand_median"))
  }

  /** Cramer-von Mises two-sample statistic, per group, via the ECDF
    * integral form: T = n m / (n+m)^2 * sum over pooled observations
    * (with multiplicity) of (F1 - F2)^2. Same distinct-value
    * compression + keyed running-sum plan as [[StatOps.ks2Samp]]; with
    * no ties this equals the classical rank formula, and with ties it
    * is the deterministic ECDF definition (documented divergence from
    * scipy's sort-order-dependent handling). Returns
    * {groups..., n1, n2, statistic}. */
  def cvm2Samp(df: DataFrame, x: Column, inFirst: Column,
               groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}s1").cast("double").as(s"${P}c1"),
        (count(lit(1)) - sum(s"${P}s1")).cast("double").as(s"${P}c2"))
    val cum = GlobalCumsum.runningSumsBy(byV, gc, col(s"${P}x"),
      ascending = true,
      Seq(col(s"${P}c1") -> s"${P}f1", col(s"${P}c2") -> s"${P}f2"),
      Seq(col(s"${P}c1") -> s"${P}n1", col(s"${P}c2") -> s"${P}n2"))
    val diff = col(s"${P}f1") / col(s"${P}n1") -
      col(s"${P}f2") / col(s"${P}n2")
    val wgt = col(s"${P}c1") + col(s"${P}c2")
    val agged = cum.groupBy(gc: _*)
      .agg(sum(wgt * diff * diff).as(s"${P}u"),
        first(s"${P}n1").as(s"${P}n1"), first(s"${P}n2").as(s"${P}n2"))
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val stat = n1 * n2 / pow(n1 + n2, 2.0) * col(s"${P}u")
    agged.select(gc ++ Seq(n1.cast("long").as("n1"),
      n2.cast("long").as("n2"), stat.as("statistic")): _*)
  }

  /** Anderson-Darling two-sample statistic, per group, in the
    * deterministic ECDF-integral form (the same distinct-value
    * compression + keyed running-sum plan as [[cvm2Samp]]): over the
    * pooled distinct values z with pooled ECDF H(z) < 1,
    *   A^2 = n1 n2 / N^2 * sum_z cnt_z (F1 - F2)^2 / (H (1 - H)).
    * Without ties this equals the classic A^2_2N (scipy anderson_ksamp
    * midrank=False); with ties it is the deterministic ECDF reading
    * (the cvm2Samp convention — no sort-order dependence). The tail
    * weight 1/(H(1-H)) is what distinguishes AD from CvM: distribution
    * drift in the tails is amplified. Returns
    * {groups..., n1, n2, statistic}. */
  def ad2Samp(df: DataFrame, x: Column, inFirst: Column,
              groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}s1").cast("double").as(s"${P}c1"),
        (count(lit(1)) - sum(s"${P}s1")).cast("double").as(s"${P}c2"))
    val cum = GlobalCumsum.runningSumsBy(byV, gc, col(s"${P}x"),
      ascending = true,
      Seq(col(s"${P}c1") -> s"${P}f1", col(s"${P}c2") -> s"${P}f2"),
      Seq(col(s"${P}c1") -> s"${P}n1", col(s"${P}c2") -> s"${P}n2"))
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val nn = n1 + n2
    val h = (col(s"${P}f1") + col(s"${P}f2")) / nn
    val diff = col(s"${P}f1") / n1 - col(s"${P}f2") / n2
    val cnt = col(s"${P}c1") + col(s"${P}c2")
    val term = when(h < 1.0,
      cnt * diff * diff / (h * (lit(1.0) - h))).otherwise(0.0)
    val agged = cum.groupBy(gc: _*)
      .agg(sum(term).as(s"${P}u"),
        first(s"${P}n1").as(s"${P}n1"), first(s"${P}n2").as(s"${P}n2"))
    val stat = col(s"${P}n1") * col(s"${P}n2") /
      pow(col(s"${P}n1") + col(s"${P}n2"), 2.0) * col(s"${P}u")
    agged.select(gc ++ Seq(col(s"${P}n1").cast("long").as("n1"),
      col(s"${P}n2").cast("long").as("n2"), stat.as("statistic")): _*)
  }

  /** Breusch-Pagan LM test for heteroscedasticity of the simple
    * regression y ~ x, per group: fit OLS, then LM = n * R^2 of the
    * auxiliary regression of e^2 on x (= n * corr(e^2, x)^2 for a
    * single regressor); chi2 with 1 df. Two moment passes (fit, then
    * residual correlation) — both map-side combinable aggregates.
    * Returns {groups..., n, statistic, df, pvalue}. */
  def breuschPagan(df: DataFrame, y: Column, x: Column,
                   groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ y.cast("double").as(s"${P}y")
      :+ x.cast("double").as(s"${P}x"): _*)
    val fit = base.groupBy(gc: _*)
      .agg((covar_pop(col(s"${P}y"), col(s"${P}x")) /
        var_pop(col(s"${P}x"))).as(s"${P}b1"),
        avg(s"${P}y").as(s"${P}my"), avg(s"${P}x").as(s"${P}mx"),
        count(lit(1)).cast("double").as(s"${P}n"))
    val withE = base.join(fit, groupNames)
      .withColumn(s"${P}e2", pow(col(s"${P}y") - col(s"${P}my") -
        col(s"${P}b1") * (col(s"${P}x") - col(s"${P}mx")), 2.0))
    val agged = withE.groupBy(gc: _*)
      .agg(corr(col(s"${P}e2"), col(s"${P}x")).as(s"${P}r"),
        first(s"${P}n").as(s"${P}n"))
    val stat = col(s"${P}n") * col(s"${P}r") * col(s"${P}r")
    agged.select(gc ++ Seq(col(s"${P}n").cast("long").as("n"),
      stat.as("statistic"), lit(1.0).as("df"),
      PValues.chi2Sf(stat, lit(1.0)).as("pvalue")): _*)
  }

  /** Fisher's exact test on the 2x2 table counted from two row
    * predicates. The table is aggregated distributedly (one count
    * pass); the hypergeometric tail is a driver-side log-gamma loop
    * over the (at most min(row1, col1)-sized) support — four cell
    * counts cross the driver, never rows. Two-sided p sums all tables
    * with point probability <= p_obs * (1 + 1e-7), the scipy/R
    * convention. Returns one row {a, b, c, d, odds_ratio, pvalue}. */
  def fisherExact(df: DataFrame, rowPred: Column,
                  colPred: Column): DataFrame = {
    val spark = df.sparkSession
    val counted = df.select(rowPred.cast("int").as(s"${P}r"),
        colPred.cast("int").as(s"${P}c"))
      .agg(sum(col(s"${P}r") * col(s"${P}c")).as("a"),
        sum(col(s"${P}r") * (lit(1) - col(s"${P}c"))).as("b"),
        sum((lit(1) - col(s"${P}r")) * col(s"${P}c")).as("c"),
        sum((lit(1) - col(s"${P}r")) * (lit(1) - col(s"${P}c")))
          .as("d"))
      .head()
    val a = counted.getLong(0); val b = counted.getLong(1)
    val c = counted.getLong(2); val d = counted.getLong(3)
    val (r1, r2, k, n) = (a + b, c + d, a + c, a + b + c + d)
    def lg(v: Long): Double =
      org.apache.commons.math3.special.Gamma.logGamma(v + 1.0)
    val denom = lg(n) - lg(k) - lg(n - k)
    def logP(i: Long): Double =
      lg(r1) - lg(i) - lg(r1 - i) + lg(r2) - lg(k - i) -
        lg(r2 - (k - i)) - denom
    val lo = math.max(0L, k - r2); val hi = math.min(k, r1)
    val pObs = math.exp(logP(a))
    var p = 0.0
    var i = lo
    while (i <= hi) {
      val pi = math.exp(logP(i))
      if (pi <= pObs * (1.0 + 1e-7)) p += pi
      i += 1
    }
    val or =
      if (b == 0L || c == 0L) Double.PositiveInfinity
      else a.toDouble * d / (b.toDouble * c)
    import spark.implicits._
    Seq((a, b, c, d, or, math.min(p, 1.0)))
      .toDF("a", "b", "c", "d", "odds_ratio", "pvalue")
  }

  /** Hurst exponent by rescaled-range (R/S) analysis, per group: the
    * series ordered by `ord` is cut into non-overlapping windows of
    * each size in `sizes`; each full window contributes
    * R/S = range(cumulative mean deviations) / stddev_pop; the Hurst
    * exponent is the slope of log(mean R/S) on log(size). The plan
    * replicates rows once per size (|sizes| is tiny), windows are keyed
    * by (group, size, chunk) so no partition exceeds max(sizes) rows,
    * and the closing regression is an algebraic covar/var aggregate
    * over |sizes| points per group. Returns {groups..., hurst}. */
  def hurst(df: DataFrame, x: Column, ord: Column,
            groupNames: Seq[String],
            sizes: Seq[Int] = Seq(8, 16, 32, 64, 128)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 2),
      s"hurst: window sizes must each be >= 2, got $sizes")
    val gc = groupNames.map(col)
    val wOrd = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
        :+ ord.as(s"${P}o"): _*)
      .withColumn(s"${P}rn", row_number().over(wOrd))
      .withColumn(s"${P}size",
        explode(array(sizes.map(s => lit(s)): _*)))
      .withColumn(s"${P}chunk",
        ((col(s"${P}rn") - 1) / col(s"${P}size")).cast("long"))
    val chunkKey = gc ++ Seq(col(s"${P}size"), col(s"${P}chunk"))
    val wChunk = Window.partitionBy(chunkKey: _*).orderBy(col(s"${P}o"))
    val wChunkAll = Window.partitionBy(chunkKey: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dev = base
      .withColumn(s"${P}m", avg(col(s"${P}x")).over(wChunkAll))
      .withColumn(s"${P}cnt", count(lit(1)).over(wChunkAll))
      .filter(col(s"${P}cnt") === col(s"${P}size"))
      .withColumn(s"${P}cd",
        sum(col(s"${P}x") - col(s"${P}m")).over(
          wChunk.rowsBetween(Window.unboundedPreceding, 0)))
    val perChunk = dev.groupBy(chunkKey: _*)
      .agg(((max(s"${P}cd") - min(s"${P}cd")) /
        stddev_pop(col(s"${P}x"))).as(s"${P}rs"))
      .filter(col(s"${P}rs").isNotNull && !col(s"${P}rs").isNaN)
    val perSize = perChunk.groupBy(gc :+ col(s"${P}size"): _*)
      .agg(avg(s"${P}rs").as(s"${P}mrs"))
      .withColumn(s"${P}lx", log(col(s"${P}size")))
      .withColumn(s"${P}ly", log(col(s"${P}mrs")))
    perSize.groupBy(gc: _*)
      .agg((covar_pop(col(s"${P}ly"), col(s"${P}lx")) /
        var_pop(col(s"${P}lx"))).as("hurst"))
  }

  /** Cronbach's alpha internal-consistency coefficient over the item
    * columns: alpha = k/(k-1) * (1 - sum var_i / var(total)), sample
    * variances. One aggregate. Returns one row {k, alpha}. */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    require(items.size >= 2, "cronbachAlpha needs >= 2 items")
    val k = items.size
    val base = df.select(items.zipWithIndex.map { case (c, i) =>
      c.cast("double").as(s"${P}i$i") }: _*)
      .withColumn(s"${P}tot",
        (0 until k).map(i => col(s"${P}i$i")).reduce(_ + _))
    val agged = base.agg(
      (0 until k).map(i => var_samp(col(s"${P}i$i")))
        .reduce(_ + _).as(s"${P}sv"),
      var_samp(col(s"${P}tot")).as(s"${P}vt"))
    agged.select(lit(k).as("k"),
      (lit(k.toDouble / (k - 1)) *
        (lit(1.0) - col(s"${P}sv") / col(s"${P}vt"))).as("alpha"))
  }
}
