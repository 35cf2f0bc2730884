package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust simple regression (y ~ x per group) by iteratively
  * reweighted least squares with M-estimator weights — the
  * outlier-resistant complement to [[LinRegOps.simpleLinReg]] for
  * fitting trends over corpus metrics where a few wild rows (a broken
  * crawler day, a mis-parsed document) would drag OLS.
  *
  * The iteration count is a FIXED, caller-visible contract (not a
  * convergence loop): every iteration is two algebraic passes — a
  * weighted-moment aggregate and an exact per-group residual-scale
  * median — so a `maxIter`-step fit is exactly replayable by any SQL
  * engine (the oracle replays it CTE by CTE), and the plan cost is
  * known up front: 2·maxIter+3 map-side-combinable aggregates over the
  * narrow (group, x, y) projection, no driver-side data loops.
  *
  * Weights at scaled residual u = e / (c * s), with
  * s = median(|e|) / 0.6745 (the normal-consistent median absolute
  * residual; the intercept term keeps the residual median near zero):
  *   huber:    w = min(1, 1/|u|)
  *   bisquare: w = (1 - u^2)^2 for |u| < 1 else 0   (Tukey)
  * A zero scale (perfect fit) short-circuits to w = 1.
  */
object RobustOps {

  private val P = "__rob_"

  /** Weighted simple-regression moments -> {slope, intercept} frame. */
  private def wFit(rows: DataFrame, gc: Seq[Column], w: Column,
                   groupNames: Seq[String]): DataFrame = {
    val sw = sum(w)
    val swx = sum(w * col(s"${P}x")); val swy = sum(w * col(s"${P}y"))
    val swxx = sum(w * col(s"${P}x") * col(s"${P}x"))
    val swxy = sum(w * col(s"${P}x") * col(s"${P}y"))
    rows.groupBy(gc: _*)
      .agg(((swxy - swx * swy / sw) / (swxx - swx * swx / sw))
        .as(s"${P}b"),
        (swy / sw).as(s"${P}wmy"), (swx / sw).as(s"${P}wmx"),
        count(lit(1)).as(s"${P}n"))
      .withColumn(s"${P}a",
        col(s"${P}wmy") - col(s"${P}b") * col(s"${P}wmx"))
      .drop(s"${P}wmy", s"${P}wmx")
  }

  /** IRLS M-estimator fit of y ~ x per group. `method` is "huber" or
    * "bisquare"; `c` the tuning constant in scale units (1.345 / 4.685
    * give 95% normal efficiency); `maxIter` the exact number of
    * reweight steps after the OLS start. Returns {groups..., n, slope,
    * intercept, scale} with scale the median-|residual|/0.6745 of the
    * FINAL fit. */
  def mReg(df: DataFrame, y: Column, x: Column,
           groupNames: Seq[String], method: String,
           c: Double, maxIter: Int): DataFrame = {
    require(method == "huber" || method == "bisquare",
      s"mReg: method must be huber|bisquare, got $method")
    require(c > 0.0 && maxIter >= 1 && maxIter <= 16,
      s"mReg: need c > 0 and 1 <= maxIter <= 16, got c=$c iter=$maxIter")
    val gc = groupNames.map(col)
    // Small-data fast path (the irlsEngine/maxLocalIrls lesson): each
    // distributed step below pays ~0.5-1 s of Catalyst analysis +
    // checkpoint latency regardless of data size, so a 2-iteration fit
    // on bench-sized data is ~5 s of overhead for milliseconds of
    // math. Below `graft.maxLocalIrls` projected doubles, collect the
    // narrow (groups, x, y) projection ONCE and run the identical
    // iteration on the driver — same contract, FP association order
    // differs from the distributed Column sums only as partitioning
    // already makes it.
    val baseAll = df.select(gc :+ y.cast("double").as(s"${P}y")
      :+ x.cast("double").as(s"${P}x"): _*)
    val mRows = baseAll
      // persist-ok: baseAll is unpersisted on both paths below
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    if (LinRegOps.fitsLocalIrls(mRows, 3)) {
      val out = localMReg(baseAll, groupNames, method, c, maxIter)
      baseAll.unpersist(blocking = false)
      return out
    }
    // The whole fit runs inside Release.scoped: the narrow projection
    // is persisted for the 2*maxIter+3 aggregate passes, each k-row
    // fit frame is eagerly localCheckpoint'ed so it is COMPUTED ONCE —
    // un-materialized, fit_i's plan embeds fit_{i-1}'s aggregate in
    // three places and the lineage re-executes it 3^i times (measured
    // 4.3 s vs <1 s at bench scale) — and scoped() frees every
    // intermediate block afterwards, returning only the checkpointed
    // k-row result.
    val res = graft.util.Release.scoped(df.sparkSession) {
      // centered fit (see localMReg): raw weighted moments cancel
      // catastrophically at large n; the loop runs in (y-ybar, x-xbar)
      // space — residuals and weights are identical there — and the
      // intercept is uncentered on the way out
      val means = baseAll.groupBy(gc: _*)
        .agg(avg(s"${P}y").as(s"${P}my"), avg(s"${P}x").as(s"${P}mx"))
        .localCheckpoint(true)
      val base = graft.util.Release.persist(baseAll.join(means, groupNames)
        .select(gc :+ (col(s"${P}y") - col(s"${P}my")).as(s"${P}y")
          :+ (col(s"${P}x") - col(s"${P}mx")).as(s"${P}x"): _*))
      def weight(u: Column): Column = method match {
        case "huber" => least(lit(1.0), lit(1.0) / abs(u))
        case _ => when(abs(u) < 1.0,
          pow(lit(1.0) - u * u, 2.0)).otherwise(0.0)
      }
      // residual scale of the fit `ab` over `base`
      def scaleOf(ab: DataFrame): DataFrame = {
        val e = col(s"${P}y") - col(s"${P}a") -
          col(s"${P}b") * col(s"${P}x")
        base.join(ab, groupNames)
          .withColumn(s"${P}ae", abs(e))
          .groupBy(gc: _*)
          .agg((median(col(s"${P}ae")) / 0.6745).as(s"${P}s"))
      }
      var fit = wFit(base, gc, lit(1.0), groupNames)
        .localCheckpoint(true) // OLS start, k rows
      for (_ <- 1 to maxIter) {
        val withFit = base.join(fit, groupNames)
          .join(scaleOf(fit), groupNames)
        val e = col(s"${P}y") - col(s"${P}a") -
          col(s"${P}b") * col(s"${P}x")
        val u = e / (col(s"${P}s") * c)
        val w = when(col(s"${P}s") <= 0.0, lit(1.0)).otherwise(weight(u))
        fit = wFit(withFit, gc, w, groupNames).localCheckpoint(true)
      }
      fit.join(scaleOf(fit), groupNames).join(means, groupNames)
        .select(gc ++ Seq(col(s"${P}n").as("n"),
          col(s"${P}b").as("slope"),
          (col(s"${P}a") + col(s"${P}my") -
            col(s"${P}b") * col(s"${P}mx")).as("intercept"),
          col(s"${P}s").as("scale")): _*)
    }
    baseAll.unpersist(blocking = false)
    res
  }

  /** Driver-side twin of the distributed loop: identical fixed-
    * iteration contract over the collected narrow projection. */
  private def localMReg(base: DataFrame, groupNames: Seq[String],
                        method: String, c: Double,
                        maxIter: Int): DataFrame = {
    val spark = base.sparkSession
    val nG = groupNames.size
    val collected = base.collect()
    val byGroup = collected.groupBy(r =>
      (0 until nG).map(r.get).toSeq)
    def med(a: Array[Double]): Double = {
      val s = a.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    val outRows = byGroup.map { case (key, rows) =>
      val rawY = rows.map(_.getDouble(nG))
      val rawX = rows.map(_.getDouble(nG + 1))
      val n = rows.length
      // center about the group means: the weighted-moment slope
      // numerator on RAW sums is a difference of near-equal large
      // numbers (3+ digits of cancellation at 1e4-magnitude data),
      // which diverges across engines at large n — centered sums are
      // cancellation-free and the algebra is identical
      val myBar = rawY.sum / n; val mxBar = rawX.sum / n
      val ys = rawY.map(_ - myBar); val xs = rawX.map(_ - mxBar)
      def fit(w: Array[Double]): (Double, Double) = {
        var sw = 0.0; var swx = 0.0; var swy = 0.0
        var swxx = 0.0; var swxy = 0.0
        var i = 0
        while (i < n) {
          val wi = w(i)
          sw += wi; swx += wi * xs(i); swy += wi * ys(i)
          swxx += wi * xs(i) * xs(i); swxy += wi * xs(i) * ys(i)
          i += 1
        }
        val b = (swxy - swx * swy / sw) / (swxx - swx * swx / sw)
        (swy / sw - b * swx / sw, b)
      }
      var (a, b) = fit(Array.fill(n)(1.0))
      var s = 0.0
      for (_ <- 1 to maxIter) {
        val e = Array.tabulate(n)(i => ys(i) - a - b * xs(i))
        s = med(e.map(math.abs)) / 0.6745
        val w = e.map { ei =>
          if (s <= 0.0) 1.0
          else {
            val u = ei / (s * c)
            method match {
              case "huber" => math.min(1.0, 1.0 / math.abs(u))
              case _ =>
                if (math.abs(u) < 1.0) {
                  val t = 1.0 - u * u; t * t
                } else 0.0
            }
          }
        }
        val ab = fit(w); a = ab._1; b = ab._2
      }
      val eF = Array.tabulate(n)(i => math.abs(ys(i) - a - b * xs(i)))
      s = med(eF) / 0.6745
      org.apache.spark.sql.Row.fromSeq( // uncenter the intercept
        key ++ Seq[Any](n.toLong, b, a + myBar - b * mxBar, s))
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      base.schema.fields.take(nG) ++ Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("slope",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("intercept",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("scale",
          org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1), schema)
  }

  /** Quantile regression y ~ x per group (pinball / check loss at
    * quantile `tau`) by iteratively reweighted least squares
    * (Schlossmacher's IRLS for LAD, generalized to asymmetric
    * weights): starting from OLS, each step refits with
    *   w_i = f(e_i) / max(|e_i|, delta),
    * where f ramps linearly from 1-tau to tau across [-delta, +delta]
    * (the convolution-SMOOTHED check loss: identical to the classic
    * asymmetry for |e| > delta, but CONTINUOUS in e, so a residual
    * landing within float noise of zero cannot flip the fit between
    * engines/partitionings — the property the SQL oracle depends on); like
    * [[mReg]] the iteration count is a FIXED replayable contract
    * (maxIter weighted-moment aggregates, no scale pass — cheaper
    * than the M-estimators). Unlike Newton on a smooth likelihood,
    * IRLS on the check loss converges LINEARLY — expect ~30
    * iterations for two-digit quantile accuracy; small maxIter gives
    * a reproducible partially-converged fit (below_frac reports how
    * far it got). `delta` guards the 1/|e| pole (keep it well below
    * the residual scale). Returns {groups..., n, slope, intercept,
    * below_frac} — the achieved fraction of residuals <= 0, which
    * approaches tau as iterations grow (the quantile property).
    * Below `graft.maxLocalIrls` the identical loop runs on the
    * driver. */
  def quantileReg(df: DataFrame, y: Column, x: Column, tau: Double,
                  groupNames: Seq[String], maxIter: Int = 4,
                  delta: Double = 1e-6): DataFrame = {
    require(tau > 0.0 && tau < 1.0,
      s"quantileReg: tau must be in (0,1), got $tau")
    require(maxIter >= 1 && maxIter <= 64 && delta > 0.0,
      s"quantileReg: need 1 <= maxIter <= 64 and delta > 0")
    val gc = groupNames.map(col)
    val baseAll = df.select(gc :+ y.cast("double").as(s"${P}y")
      :+ x.cast("double").as(s"${P}x"): _*)
      // persist-ok: baseAll is unpersisted on both paths below
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mRows = baseAll.count()
    if (LinRegOps.fitsLocalIrls(mRows, 3)) {
      val out = localQuantile(baseAll, groupNames, tau, maxIter, delta)
      baseAll.unpersist(blocking = false)
      return out
    }
    val res = graft.util.Release.scoped(df.sparkSession) {
      // centered fit — see mReg/localMReg
      val means = baseAll.groupBy(gc: _*)
        .agg(avg(s"${P}y").as(s"${P}my"), avg(s"${P}x").as(s"${P}mx"))
        .localCheckpoint(true)
      val centered = graft.util.Release.persist(
        baseAll.join(means, groupNames)
          .select(gc :+ (col(s"${P}y") - col(s"${P}my")).as(s"${P}y")
            :+ (col(s"${P}x") - col(s"${P}mx")).as(s"${P}x"): _*))
      var fit = wFit(centered, gc, lit(1.0), groupNames)
        .localCheckpoint(true)
      for (_ <- 1 to maxIter) {
        val withFit = centered.join(fit, groupNames)
        val e = col(s"${P}y") - col(s"${P}a") -
          col(s"${P}b") * col(s"${P}x")
        // smoothed check loss: the asymmetry factor ramps linearly
        // from 1-tau to tau across [-delta, +delta] instead of
        // jumping at e = 0 — the weight is CONTINUOUS in e, so a
        // residual that lands within float noise of zero cannot flip
        // the fit between engines (convolution-smoothed quantile
        // loss; identical to the check loss for |e| > delta)
        val ramp = least(greatest((e + delta) / (2.0 * delta),
          lit(0.0)), lit(1.0))
        val w = (lit(1.0 - tau) + lit(2.0 * tau - 1.0) * ramp) /
          greatest(abs(e), lit(delta))
        fit = wFit(withFit, gc, w, groupNames).localCheckpoint(true)
      }
      val e = col(s"${P}y") - col(s"${P}a") - col(s"${P}b") * col(s"${P}x")
      val below = centered.join(fit, groupNames)
        .groupBy(gc: _*)
        .agg(avg((e <= 0.0).cast("double")).as(s"${P}bf"))
      fit.join(below, groupNames).join(means, groupNames)
        .select(gc ++ Seq(col(s"${P}n").as("n"),
          col(s"${P}b").as("slope"),
          (col(s"${P}a") + col(s"${P}my") -
            col(s"${P}b") * col(s"${P}mx")).as("intercept"),
          col(s"${P}bf").as("below_frac")): _*)
    }
    baseAll.unpersist(blocking = false)
    res
  }

  /** Driver-side twin of the quantile IRLS loop. */
  private def localQuantile(base: DataFrame, groupNames: Seq[String],
                            tau: Double, maxIter: Int,
                            delta: Double): DataFrame = {
    val spark = base.sparkSession
    val nG = groupNames.size
    val byGroup = base.collect().groupBy(r =>
      (0 until nG).map(r.get).toSeq)
    val outRows = byGroup.map { case (key, rows) =>
      val rawY = rows.map(_.getDouble(nG))
      val rawX = rows.map(_.getDouble(nG + 1))
      val n = rows.length
      // centered fit — see localMReg: raw weighted moments cancel
      // catastrophically at large n; centered sums do not
      val myBar = rawY.sum / n; val mxBar = rawX.sum / n
      val ys = rawY.map(_ - myBar); val xs = rawX.map(_ - mxBar)
      def fit(w: Array[Double]): (Double, Double) = {
        var sw = 0.0; var swx = 0.0; var swy = 0.0
        var swxx = 0.0; var swxy = 0.0
        var i = 0
        while (i < n) {
          val wi = w(i)
          sw += wi; swx += wi * xs(i); swy += wi * ys(i)
          swxx += wi * xs(i) * xs(i); swxy += wi * xs(i) * ys(i)
          i += 1
        }
        val b = (swxy - swx * swy / sw) / (swxx - swx * swx / sw)
        (swy / sw - b * swx / sw, b)
      }
      var (a, b) = fit(Array.fill(n)(1.0))
      for (_ <- 1 to maxIter) {
        val w = Array.tabulate(n) { i =>
          val e = ys(i) - a - b * xs(i)
          val ramp = math.min(math.max((e + delta) / (2.0 * delta),
            0.0), 1.0)
          ((1.0 - tau) + (2.0 * tau - 1.0) * ramp) /
            math.max(math.abs(e), delta)
        }
        val ab = fit(w); a = ab._1; b = ab._2
      }
      val below = (0 until n)
        .count(i => ys(i) - a - b * xs(i) <= 0.0).toDouble / n
      org.apache.spark.sql.Row.fromSeq( // uncenter the intercept
        key ++ Seq[Any](n.toLong, b, a + myBar - b * mxBar, below))
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      base.schema.fields.take(nG) ++ Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("slope",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("intercept",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("below_frac",
          org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1), schema)
  }

  /** Huber M-regression with the 95%-efficiency constant. */
  def huberReg(df: DataFrame, y: Column, x: Column,
               groupNames: Seq[String], maxIter: Int = 3,
               c: Double = 1.345): DataFrame =
    mReg(df, y, x, groupNames, "huber", c, maxIter)

  /** Tukey bisquare M-regression with the 95%-efficiency constant. */
  def bisquareReg(df: DataFrame, y: Column, x: Column,
                  groupNames: Seq[String], maxIter: Int = 3,
                  c: Double = 4.685): DataFrame =
    mReg(df, y, x, groupNames, "bisquare", c, maxIter)
}
