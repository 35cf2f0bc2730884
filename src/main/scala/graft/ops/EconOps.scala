package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.LinRegAgg
import graft.functions.PValues

/** Time-series econometrics beyond the reference's feature set:
  * partial autocorrelation, unit-root (Dickey-Fuller), Granger
  * causality, and cross-correlation. All share one plan shape — a
  * keyed window pass building lag columns, then a single Gram /
  * moment aggregate per group — so each operator costs two shuffles
  * regardless of the lag order.
  */
object EconOps {

  private val P = "__econ_"

  /** Autocorrelations rho_1..rho_maxLag per group (biased estimator:
    * full-sample mean, denominator sum (x-mean)^2 — the statsmodels
    * `acf` default), as one array column. */
  def acf(df: DataFrame, x: Column, ord: Column,
          groupNames: Seq[String], maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"acf: maxLag must be >= 1, got $maxLag")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val lagged = base.select((gc :+ col(s"${P}x")) ++
      (1 to maxLag).map(k => lag(col(s"${P}x"), k).over(w)
        .as(s"${P}l$k")): _*)
    val stats = base.groupBy(gc: _*).agg(avg(s"${P}x").as(s"${P}m"))
    val joined = lagged.join(stats, groupNames)
    val m = col(s"${P}m")
    val covs = (1 to maxLag).map(k =>
      sum((col(s"${P}x") - m) * (col(s"${P}l$k") - m)).as(s"${P}s$k"))
    joined.groupBy(gc: _*)
      .agg(sum((col(s"${P}x") - m) * (col(s"${P}x") - m)).as(s"${P}s0"),
        covs: _*)
      .select(gc :+ array((1 to maxLag).map(k =>
        col(s"${P}s$k") / col(s"${P}s0")): _*).as("acf"): _*)
  }

  /** Durbin-Levinson recursion: rho_1..rho_m -> pacf_1..pacf_m.
    * Runs on one post-aggregation row per group (same cost class as
    * the PValues UDFs — never at row scale). */
  private val durbinLevinson = udf { (rho0: Seq[Double]) =>
    val rho = rho0.toArray // List at udf call sites: O(1) indexing after
    val m = rho.length
    val phi = Array.ofDim[Double](m + 1, m + 1)
    val out = new Array[Double](m)
    var v = 1.0
    var k = 1
    while (k <= m && v > 1e-300) {
      var acc = rho(k - 1)
      var j = 1
      while (j < k) { acc -= phi(k - 1)(j) * rho(k - j - 1); j += 1 }
      val pk = acc / v
      phi(k)(k) = pk
      j = 1
      while (j < k) {
        phi(k)(j) = phi(k - 1)(j) - pk * phi(k - 1)(k - j); j += 1
      }
      v *= (1.0 - pk * pk)
      out(k - 1) = pk
      k += 1
    }
    while (k <= m) { out(k - 1) = Double.NaN; k += 1 }
    out.toSeq
  }

  /** Partial autocorrelation function per group via Yule-Walker /
    * Durbin-Levinson on the biased ACF (statsmodels `pacf(method=
    * "ywm")`). Array column `pacf` with entries for lags 1..maxLag. */
  def pacf(df: DataFrame, x: Column, ord: Column,
           groupNames: Seq[String], maxLag: Int): DataFrame = {
    val gc = groupNames.map(col)
    acf(df, x, ord, groupNames, maxLag)
      .select(gc :+ durbinLevinson(col("acf")).as("pacf"): _*)
  }

  /** (Augmented) Dickey-Fuller unit-root test per group, constant /
    * no-trend specification: regress dx_t on [x_{t-1},
    * dx_{t-1}..dx_{t-lags}, 1] and report the t-statistic of the
    * x_{t-1} coefficient plus the MacKinnon (2010) asymptotic
    * critical values for the constant-only case. More negative than
    * the critical value => reject the unit root (stationary).
    * The regression rides the shared Gram aggregate (LinRegAgg), so
    * the plan is one window pass + one aggregate at any lag order. */
  def dickeyFuller(df: DataFrame, x: Column, ord: Column,
                   groupNames: Seq[String], lags: Int = 0): DataFrame = {
    require(lags >= 0, s"dickeyFuller: lags must be >= 0, got $lags")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val dx = col(s"${P}x") - lag(col(s"${P}x"), 1).over(w)
    val withD = base
      .withColumn(s"${P}xm1", lag(col(s"${P}x"), 1).over(w))
      .withColumn(s"${P}dx", dx)
    val withL = (1 to lags).foldLeft(withD) { (d, i) =>
      d.withColumn(s"${P}dl$i", lag(col(s"${P}dx"), i).over(w))
    }
    val feats = col(s"${P}xm1") +:
      (1 to lags).map(i => col(s"${P}dl$i"))
    val clean = withL.na.drop(
      Seq(s"${P}dx", s"${P}xm1") ++ (1 to lags).map(i => s"${P}dl$i"))
    val d = feats.size + 1
    val fit = clean.groupBy(gc: _*)
      .agg(LinRegAgg.linReg(array(feats :+ lit(1.0): _*),
        col(s"${P}dx"), d).as(s"${P}fit"),
        count(lit(1)).as("n"))
    fit.select(gc ++ Seq(col("n"),
      col(s"${P}fit.tVals")(0).as("statistic"),
      lit(-3.43).as("crit_1pct"), lit(-2.86).as("crit_5pct"),
      lit(-2.57).as("crit_10pct")): _*)
  }

  /** Granger causality test per group: does x help predict y beyond
    * y's own `p` lags? F = ((RSS_r - RSS_u)/p) / (RSS_u/(n-2p-1))
    * comparing y ~ [y lags, 1] (restricted) against
    * y ~ [y lags, x lags, 1] (unrestricted), both fit on the SAME
    * rows (all 2p lags present) inside one aggregate pass — two Gram
    * states per group, one shuffle. Returns
    * {groups..., n, statistic, df1, df2, pvalue}. */
  def grangerCausality(df: DataFrame, y: Column, x: Column, ord: Column,
                       groupNames: Seq[String], p: Int = 1): DataFrame = {
    require(p >= 1, s"grangerCausality: p must be >= 1, got $p")
    val gc = groupNames.map(col)
    val base = df.select(gc ++ Seq(y.cast("double").as(s"${P}y"),
      x.cast("double").as(s"${P}x"), ord.as(s"${P}o")): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val withL = (1 to p).foldLeft(base) { (d, i) =>
      d.withColumn(s"${P}yl$i", lag(col(s"${P}y"), i).over(w))
        .withColumn(s"${P}xl$i", lag(col(s"${P}x"), i).over(w))
    }
    val clean = withL.na.drop(
      (1 to p).flatMap(i => Seq(s"${P}yl$i", s"${P}xl$i")))
    val yLags = (1 to p).map(i => col(s"${P}yl$i"))
    val xLags = (1 to p).map(i => col(s"${P}xl$i"))
    val fit = clean.groupBy(gc: _*)
      .agg(LinRegAgg.linReg(array(yLags :+ lit(1.0): _*),
        col(s"${P}y"), p + 1).as(s"${P}r"),
        LinRegAgg.linReg(array(yLags ++ xLags :+ lit(1.0): _*),
          col(s"${P}y"), 2 * p + 1).as(s"${P}u"),
        count(lit(1)).cast("double").as(s"${P}n"))
    // RSS = TSS (1 - R^2); TSS cancels:
    // F = ((R2u - R2r)/p) / ((1 - R2u)/(n - 2p - 1))
    val r2r = col(s"${P}r.r2"); val r2u = col(s"${P}u.r2")
    val n = col(s"${P}n")
    val df2 = n - (2 * p + 1)
    val f = ((r2u - r2r) / p) / ((lit(1.0) - r2u) / df2)
    fit.select(gc ++ Seq(n.cast("long").as("n"), f.as("statistic"),
      lit(p.toDouble).as("df1"), df2.as("df2"),
      PValues.fSf(f, lit(p.toDouble), df2).as("pvalue")): _*)
  }

  /** Cross-correlation function per group: corr(x_t, y_{t-k}) for
    * k = -maxLag..maxLag (negative k correlates x against FUTURE y).
    * One window pass emits every shift; Spark's pairwise-null-skipping
    * corr closes them all in a single aggregate. Wide output with one
    * `ccf_m<k>` / `ccf_0` / `ccf_p<k>` column per shift. */
  def ccf(df: DataFrame, x: Column, y: Column, ord: Column,
          groupNames: Seq[String], maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"ccf: maxLag must be >= 1, got $maxLag")
    val gc = groupNames.map(col)
    val base = df.select(gc ++ Seq(x.cast("double").as(s"${P}x"),
      y.cast("double").as(s"${P}y"), ord.as(s"${P}o")): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val shifted = (1 to maxLag).foldLeft(base) { (d, k) =>
      d.withColumn(s"${P}yl$k", lag(col(s"${P}y"), k).over(w))
        .withColumn(s"${P}yf$k", lead(col(s"${P}y"), k).over(w))
    }
    val aggs =
      (maxLag to 1 by -1).map(k =>
        corr(col(s"${P}x"), col(s"${P}yf$k")).as(s"ccf_m$k")) ++
      Seq(corr(col(s"${P}x"), col(s"${P}y")).as("ccf_0")) ++
      (1 to maxLag).map(k =>
        corr(col(s"${P}x"), col(s"${P}yl$k")).as(s"ccf_p$k"))
    shifted.groupBy(gc: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** KPSS level-stationarity test per group (Kwiatkowski et al. 1992,
    * the `regression='c'` case): eta = sum S_t^2 / n^2 over partial
    * sums S_t of the demeaned series, normalized by the Bartlett
    * long-run variance s2 = g0 + 2 sum_{j<=l} (1 - j/(l+1)) g_j.
    * Unlike ADF the NULL here is stationarity — statistic ABOVE the
    * critical value rejects it. Asymptotic critical values 0.347 /
    * 0.463 / 0.739 (10/5/1%). One window pass (cumsum + l lags) and
    * one aggregate. */
  def kpss(df: DataFrame, x: Column, ord: Column,
           groupNames: Seq[String], lags: Int = 4): DataFrame = {
    require(lags >= 0, s"kpss: lags must be >= 0, got $lags")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val means = base.groupBy(gc: _*)
      .agg(avg(s"${P}x").as(s"${P}m"))
    val joined = base.join(means, groupNames)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val demeaned = joined
      .withColumn(s"${P}e", col(s"${P}x") - col(s"${P}m"))
      .withColumn(s"${P}s",
        sum(col(s"${P}e")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
    val withL = (1 to lags).foldLeft(demeaned) { (d, j) =>
      d.withColumn(s"${P}el$j", lag(col(s"${P}e"), j).over(w))
    }
    val gammas = (1 to lags).map(j =>
      sum(col(s"${P}e") * col(s"${P}el$j")).as(s"${P}g$j"))
    val aggExprs =
      Seq(sum(col(s"${P}s") * col(s"${P}s")).as(s"${P}ss"),
        sum(col(s"${P}e") * col(s"${P}e")).as(s"${P}g0")) ++
      gammas :+ count(lit(1)).cast("double").as(s"${P}n")
    val agged = withL.groupBy(gc: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val n = col(s"${P}n")
    // gammas are SUMS here; divide by n once, like eta's n^2
    val s2 = (col(s"${P}g0") + (1 to lags).map(j =>
      col(s"${P}g$j") * (2.0 * (1.0 - j.toDouble / (lags + 1))))
        .foldLeft(lit(0.0))(_ + _)) / n
    val eta = col(s"${P}ss") / (n * n)
    agged.select(gc ++ Seq(n.cast("long").as("n"),
      (eta / s2).as("statistic"),
      lit(0.347).as("crit_10pct"), lit(0.463).as("crit_5pct"),
      lit(0.739).as("crit_1pct")): _*)
  }

  /** Engle-Granger two-step cointegration test per group: OLS
    * y ~ [x, 1] (the cointegrating regression, via one moment
    * aggregate), then a no-constant Dickey-Fuller t on its residuals
    * (the residuals are already mean-zero). Reject the no-cointegration
    * null when the statistic is MORE NEGATIVE than the Engle-Granger
    * critical values (2 variables, constant: -3.34 / -3.05 / -2.76 at
    * 1/5/10%, asymptotic). Returns {groups..., n, beta, intercept,
    * statistic}. Two window-free moment passes + one window pass. */
  def engleGranger(df: DataFrame, y: Column, x: Column, ord: Column,
                   groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc ++ Seq(y.cast("double").as(s"${P}y"),
      x.cast("double").as(s"${P}x"), ord.as(s"${P}o")): _*)
    val fit = base.groupBy(gc: _*)
      .agg((covar_pop(col(s"${P}y"), col(s"${P}x")) /
        var_pop(col(s"${P}x"))).as(s"${P}b"),
        avg(s"${P}y").as(s"${P}my"), avg(s"${P}x").as(s"${P}mx"))
    val joined = base.join(fit, groupNames)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val withU = joined.withColumn(s"${P}u",
      col(s"${P}y") - col(s"${P}my") -
        col(s"${P}b") * (col(s"${P}x") - col(s"${P}mx")))
      .withColumn(s"${P}um1", lag(col(s"${P}u"), 1).over(w))
      .filter(col(s"${P}um1").isNotNull)
      .withColumn(s"${P}du", col(s"${P}u") - col(s"${P}um1"))
    val agged = withU.groupBy(gc: _*)
      .agg(sum(col(s"${P}du") * col(s"${P}um1")).as(s"${P}sxy"),
        sum(col(s"${P}um1") * col(s"${P}um1")).as(s"${P}sxx"),
        sum(col(s"${P}du") * col(s"${P}du")).as(s"${P}syy"),
        count(lit(1)).cast("double").as(s"${P}n"),
        first(s"${P}b").as(s"${P}b"),
        first(s"${P}my").as(s"${P}my"),
        first(s"${P}mx").as(s"${P}mx"))
    val b = col(s"${P}sxy") / col(s"${P}sxx")
    val rss = col(s"${P}syy") - b * b * col(s"${P}sxx")
    val t = b / sqrt((rss / (col(s"${P}n") - 1.0)) / col(s"${P}sxx"))
    agged.select(gc ++ Seq(col(s"${P}n").cast("long").as("n"),
      col(s"${P}b").as("beta"),
      (col(s"${P}my") - col(s"${P}b") * col(s"${P}mx")).as("intercept"),
      t.as("statistic")): _*)
  }

  /** Engle's ARCH LM test per group: regress the squared demeaned
    * series e_t^2 on [e_{t-1}^2..e_{t-p}^2, 1]; LM = n R^2, chi2(p).
    * Rides the shared Gram aggregate — one window pass + one agg at
    * any order. Returns {groups..., n, statistic, df, pvalue}. */
  def archLm(df: DataFrame, x: Column, ord: Column,
             groupNames: Seq[String], p: Int = 2): DataFrame = {
    require(p >= 1, s"archLm: p must be >= 1, got $p")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val means = base.groupBy(gc: _*).agg(avg(s"${P}x").as(s"${P}m"))
    val joined = base.join(means, groupNames)
    val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val withE = joined.withColumn(s"${P}e2",
      pow(col(s"${P}x") - col(s"${P}m"), 2.0))
    val withL = (1 to p).foldLeft(withE) { (d, i) =>
      d.withColumn(s"${P}e2l$i", lag(col(s"${P}e2"), i).over(w))
    }
    val clean = withL.na.drop((1 to p).map(i => s"${P}e2l$i"))
    val feats = (1 to p).map(i => col(s"${P}e2l$i"))
    val fit = clean.groupBy(gc: _*)
      .agg(LinRegAgg.linReg(array(feats :+ lit(1.0): _*),
        col(s"${P}e2"), p + 1).as(s"${P}fit"),
        count(lit(1)).cast("double").as(s"${P}n"))
    val stat = col(s"${P}n") * col(s"${P}fit.r2")
    fit.select(gc ++ Seq(col(s"${P}n").cast("long").as("n"),
      stat.as("statistic"), lit(p.toDouble).as("df"),
      PValues.chi2Sf(stat, lit(p.toDouble)).as("pvalue")): _*)
  }
}
