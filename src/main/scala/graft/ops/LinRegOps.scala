package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.linear.Solvers

/** Regression ops that stay in pure Column algebra (SURVEY §2.9).
  * Multi-feature exact OLS lives in [[graft.agg.LinRegAgg]]; here are the
  * closed-form single-feature paths and their rolling/expanding variants,
  * plus the IRLS driver loop for logistic regression.
  */
object LinRegOps {

  private val P = "__pds_"

  /** The reference's null policies for regression inputs
    * (python/polars_ds/typing.py:25, src/linear/mod.rs:33 —
    * raise | skip | zero | one; `ignore` maps to skip here, since the
    * Gram aggregate already drops null rows). Returns the frame with
    * the policy applied to `cols`:
    *  - skip/ignore — drop rows where any input is null or NaN (the
    *    aggregator would skip them anyway; filtering first lets the
    *    predicate push into the scan),
    *  - zero / one  — impute the constant,
    *  - raise       — fail fast with a count of offending rows (one
    *    extra aggregate job; use in validation pipelines, not hot
    *    paths). */
  def applyNullPolicy(df: DataFrame, cols: Seq[Column],
                      policy: String): DataFrame = policy match {
    case "skip" | "ignore" =>
      df.filter(cols.map(c => c.isNotNull && !isnan(c)).reduce(_ && _))
    case "zero" | "one" =>
      // imputation rewrites the column in place, which only works for
      // bare column references — a derived expression would silently
      // ADD a new column and leave the original untouched
      val names = cols.map { c =>
        val name = c.toString
        require(df.columns.contains(name),
          s"null policy '$policy' needs bare column references; " +
            s"'$name' is not a column of the frame")
        name
      }
      val v = if (policy == "zero") 0.0 else 1.0
      names.foldLeft(df)((d, name) => d.withColumn(name,
        coalesce(nanvl(col(name).cast("double"), lit(null)), lit(v))))
    case "raise" =>
      val bad = df.filter(cols.map(c =>
        c.isNull || isnan(c)).reduce(_ || _)).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"null policy 'raise': $bad rows have null/NaN inputs")
      df
    case other => throw new IllegalArgumentException(
      s"unknown null policy '$other' (raise|skip|zero|one|ignore)")
  }

  /** Closed-form simple regression aggregates:
    * slope = cov(x,y)/var(x) (expr_linear.py:44 simple_lin_reg). */
  def simpleSlope(x: Column, y: Column): Column =
    covar_samp(x, y) / var_samp(x)
  def simpleIntercept(x: Column, y: Column): Column =
    avg(y) - simpleSlope(x, y) * avg(x)

  /** Weighted simple regression (expr_linear.py:44 simple_lin_reg with
    * weights): β = (Σwxy − ΣwxΣwy/Σw) / (Σwx² − (Σwx)²/Σw). */
  def simpleSlopeW(x: Column, y: Column, w: Column): Column =
    (sum(w * x * y) - sum(w * x) * sum(w * y) / sum(w)) /
      (sum(w * x * x) - sum(w * x) * sum(w * x) / sum(w))
  def simpleInterceptW(x: Column, y: Column, w: Column): Column =
    sum(w * y) / sum(w) - simpleSlopeW(x, y, w) * sum(w * x) / sum(w)

  /** Rolling simple lin-reg over a fixed trailing window per group:
    * per-row slope/intercept from window sums — O(1) state per row, no
    * Woodbury needed for d=1 (reference pl_rolling_lr,
    * linear_regression.rs:1199, specialised to one feature). */
  def rollingSimpleLinReg(df: DataFrame, x: Column, y: Column,
                          order: Column, groupNames: Seq[String],
                          window: Int): DataFrame = {
    val gc = groupNames.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(order)
      .rowsBetween(-(window - 1), 0)
    slopeCols(df, x, y, w, "rolling_slope", "rolling_intercept")
  }

  /** Expanding-window ("recursive") simple lin-reg per row
    * (reference pl_recursive_lr, linear_regression.rs:1114). */
  def recursiveSimpleLinReg(df: DataFrame, x: Column, y: Column,
                            order: Column, groupNames: Seq[String])
      : DataFrame = {
    val gc = groupNames.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, 0)
    slopeCols(df, x, y, w, "recursive_slope", "recursive_intercept")
  }

  /** Two-feature (+ intercept) per-row OLS from windowed sums, solved
    * by Cramer's rule in Column algebra — the multi-feature
    * rolling/recursive path. Where the reference slides a Woodbury
    * rank-1 update sequentially (lr_online_solvers.rs:180,148), the
    * Spark-native form computes each row's normal equations from
    * windowed partial sums: fully distributed, no sequential state, no
    * accumulated FP drift. O(window) work per row via the frame. */
  private def cramer2f(df: DataFrame, x1: Column, x2: Column, y: Column,
                       w: org.apache.spark.sql.expressions.WindowSpec,
                       prefix: String): DataFrame = {
    val n = count(lit(1)).over(w).cast("double")
    val s11 = sum(x1 * x1).over(w); val s12 = sum(x1 * x2).over(w)
    val s22 = sum(x2 * x2).over(w)
    val s1 = sum(x1).over(w); val s2 = sum(x2).over(w)
    val sy = sum(y).over(w)
    val s1y = sum(x1 * y).over(w); val s2y = sum(x2 * y).over(w)
    val det = s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1) +
      s1 * (s12 * s2 - s22 * s1)
    val b1 = (s1y * (s22 * n - s2 * s2) - s12 * (s2y * n - s2 * sy) +
      s1 * (s2y * s2 - s22 * sy)) / det
    val b2 = (s11 * (s2y * n - sy * s2) - s1y * (s12 * n - s2 * s1) +
      s1 * (s12 * sy - s2y * s1)) / det
    val b0 = (s11 * (s22 * sy - s2y * s2) - s12 * (s12 * sy - s2y * s1) +
      s1y * (s12 * s2 - s22 * s1)) / det
    df.withColumn(s"${prefix}_b1", b1)
      .withColumn(s"${prefix}_b2", b2)
      .withColumn(s"${prefix}_b0", b0)
      .withColumn(s"${prefix}_n", n)
  }

  /** Fixed-window multi-feature rolling OLS per row (reference
    * pl_rolling_lr, full-feature form). Rows with an incomplete window
    * carry n < window. */
  def rollingLinReg2(df: DataFrame, x1: Column, x2: Column, y: Column,
                     order: Column, groupNames: Seq[String],
                     window: Int): DataFrame = {
    val w = Window.partitionBy(groupNames.map(col): _*).orderBy(order)
      .rowsBetween(-(window - 1), 0)
    cramer2f(df, x1, x2, y, w, "roll")
  }

  /** Expanding-window multi-feature OLS per row (reference
    * pl_recursive_lr, full-feature form). Defined once n ≥ 3. */
  def recursiveLinReg2(df: DataFrame, x1: Column, x2: Column, y: Column,
                       order: Column, groupNames: Seq[String])
      : DataFrame = {
    val w = Window.partitionBy(groupNames.map(col): _*).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, 0)
    cramer2f(df, x1, x2, y, w, "rec")
  }

  private def slopeCols(df: DataFrame, x: Column, y: Column,
                        w: org.apache.spark.sql.expressions.WindowSpec,
                        slopeName: String, interName: String): DataFrame = {
    val n = count(lit(1)).over(w).cast("double")
    val sx = sum(x).over(w)
    val sy = sum(y).over(w)
    val sxy = sum(x * y).over(w)
    val sxx = sum(x * x).over(w)
    val slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    df.withColumn(slopeName, slope)
      .withColumn(interName, (sy - slope * sx) / n)
  }

  /** General-d fixed-window rolling OLS/ridge per row (reference
    * pl_rolling_lr, lr_online_solvers.rs:180, any feature count;
    * null-skipping variant :218). Where the reference slides a
    * sequential Woodbury add/remove update, the Spark-native form
    * computes every row's normal equations from windowed partial sums
    * (the d(d+1)/2 Gram entries + cross terms, ONE window pass, all
    * codegen'd) and solves the (d+bias)² system per row in a tiny
    * UDF — fully distributed across groups AND rows, no sequential
    * state, no accumulated FP drift.
    *
    * Null semantics (matches the reference's `null_policy="skip"` +
    * `min_valid_rows`, test_linear_exprs.py:857): the window is
    * POSITIONAL (always `window` physical rows); rows with any
    * null/NaN input are excluded from the sums; output is null until
    * the window is full or when fewer than `minValidRows` valid rows
    * remain (default: every row valid when `nullSkip=false`, else
    * d+bias). Output: array column `out` = coefficients, bias LAST
    * (null when gated or singular). */
  def rollingLinReg(df: DataFrame, features: Seq[Column], y: Column,
                    order: Column, groupNames: Seq[String], window: Int,
                    lambda: Double = 0.0, addBias: Boolean = true,
                    nullSkip: Boolean = false, minValidRows: Int = -1,
                    out: String = "coeffs"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = Window.partitionBy(groupNames.map(col): _*).orderBy(order)
      .rowsBetween(-(window - 1), 0)
    windowedOls(df, features, y, w, window, lambda, addBias, nullSkip,
      minValidRows, out)
  }

  /** General-d expanding-window ("recursive") OLS/ridge per row
    * (reference pl_recursive_lr, lr_online_solvers.rs:148): row i
    * carries the fit over rows 0..i of its group, null until
    * `startWith` rows have arrived. Same distributed windowed-sums
    * design as [[rollingLinReg]]. */
  def recursiveLinReg(df: DataFrame, features: Seq[Column], y: Column,
                      order: Column, groupNames: Seq[String],
                      startWith: Int, lambda: Double = 0.0,
                      addBias: Boolean = true, nullSkip: Boolean = false,
                      out: String = "coeffs"): DataFrame = {
    val w = Window.partitionBy(groupNames.map(col): _*).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, 0)
    windowedOls(df, features, y, w, startWith, lambda, addBias, nullSkip,
      -1, out)
  }

  private def windowedOls(df: DataFrame, features: Seq[Column], y: Column,
                          w: org.apache.spark.sql.expressions.WindowSpec,
                          requireRows: Int, lambda: Double,
                          addBias: Boolean, nullSkip: Boolean,
                          minValidRows: Int, out: String): DataFrame = {
    val d = features.length
    require(d >= 1, "need at least one feature")
    val dTot = d + (if (addBias) 1 else 0)
    val fx = features.map(_.cast("double"))
    val yd = y.cast("double")
    val valid = (fx :+ yd)
      .map(c => c.isNotNull && !isnan(c)).reduce(_ && _)
    def m(c: Column) = when(valid, c).otherwise(lit(0.0))
    val gram = for { j <- 0 until d; k <- j until d }
      yield sum(m(fx(j) * fx(k))).over(w)
    val sx = fx.map(c => sum(m(c)).over(w))
    val sxy = fx.map(c => sum(m(c * yd)).over(w))
    val sy = sum(m(yd)).over(w)
    val nValid = sum(when(valid, 1).otherwise(0)).over(w).cast("double")
    val nRows = count(lit(1)).over(w).cast("double")
    val packed = array(gram ++ sx ++ sxy ++ Seq(sy, nValid, nRows): _*)
    val minValid = if (minValidRows > 0) minValidRows
      else if (nullSkip) dTot else requireRows
    val nGram = d * (d + 1) / 2
    val solver = udf { (p0: Seq[Double]) =>
      val p = p0.toArray // List at udf call sites: O(1) indexing after
      val nR = p(nGram + 2 * d + 2)
      val nV = p(nGram + 2 * d + 1)
      if (nR < requireRows || nV < minValid || nV < dTot) null
      else {
        val a = Array.ofDim[Double](dTot, dTot + 1)
        var idx = 0
        var j = 0
        while (j < d) {
          var k = j
          while (k < d) {
            a(j)(k) = p(idx); a(k)(j) = p(idx); k += 1; idx += 1
          }
          j += 1
        }
        j = 0
        while (j < d) {
          if (addBias) { a(j)(d) = p(nGram + j); a(d)(j) = p(nGram + j) }
          a(j)(dTot) = p(nGram + d + j)
          j += 1
        }
        if (addBias) {
          a(d)(d) = nV
          a(d)(dTot) = p(nGram + 2 * d)
        }
        var i = 0
        while (i < dTot) { a(i)(i) += lambda; i += 1 }
        rollingSolve(a)
      }
    }
    df.withColumn(out, solver(packed))
  }

  /** One window's coefficients from its [X'X + λI | X'y]: null when a
    * pivot is at or under 1e-12·max|Aᵢᵢ| (reference singular_x_tol; a
    * nearly collinear window otherwise yields finite-but-huge garbage)
    * or when the solution is not finite. Shared by [[rollingLinReg]],
    * [[recursiveLinReg]] and their streaming twin
    * `StreamOps.streamingRollingLR`, so batch and stream gate the same
    * windows. */
  private[graft] def rollingSolve(a: Array[Array[Double]]): Seq[Double] = {
    val d = a.length
    if (Solvers.gaussJordan(a, Solvers.pivotFloor(a, 1e-12)).isNaN) null
    else {
      val beta = Array.tabulate(d)(i => a(i)(d))
      if (beta.exists(b => b.isNaN || b.isInfinite)) null else beta.toSeq
    }
  }

  /** Per-row prediction + residual from a per-group OLS/ridge fit
    * (the reference's lin_reg `return_pred=True` with
    * `null_policy="skip"`, expr_linear.py:105; skip-null vector
    * test_linear_exprs.py:410): rows with any null/NaN input are
    * excluded from the fit AND carry null pred/resid — they stay in
    * the frame. One Gram aggregate per group; betas broadcast back. */
  def linRegPred(df: DataFrame, features: Seq[Column], y: Column,
                 groupNames: Seq[String] = Nil, addBias: Boolean = false,
                 lambda: Double = 0.0,
                 predName: String = "pred", residName: String = "resid")
      : DataFrame = {
    val d = features.length
    val dTot = d + (if (addBias) 1 else 0)
    val fx = features.map(_.cast("double"))
    val yd = y.cast("double")
    val valid = (fx :+ yd).map(c => c.isNotNull && !isnan(c))
      .reduce(_ && _)
    val xb: Seq[Column] = if (addBias) fx :+ lit(1.0) else fx
    val gc = groupNames.map(col)
    val betas = df.filter(valid).groupBy(gc: _*)
      .agg(graft.agg.LinRegAgg.linReg(array(xb: _*), yd, dTot, lambda)
        .as("_r"))
      .select(gc :+ col("_r.coeffs").as("_beta"): _*)
    val joined = df.join(broadcast(betas), groupNames, "left")
    val pred = (0 until dTot)
      .map(i => xb(i) * element_at(col("_beta"), i + 1)).reduce(_ + _)
    joined
      .withColumn(predName, when(valid, pred))
      .withColumn(residName, when(valid, yd - col(predName)))
      .drop("_beta")
  }

  /** Multi-target OLS/ridge: fit the SAME design matrix against `m`
    * target columns in one pass, sharing the Gram matrix across
    * targets (reference lin_reg with `target=[y1, y2, ...]`,
    * test_linear_exprs.py:1068; the struct fields follow the same
    * positional `target_i` convention).
    *
    * One distributed groupBy aggregate carries X'X once plus the m
    * X'yᵢ vectors; the per-group solve UDF runs ONE Gauss–Jordan
    * elimination with m right-hand sides — m× cheaper than m separate
    * fits on both shuffle volume and factorization work. Output: group
    * keys + `target_0..target_{m-1}` coefficient arrays (bias LAST;
    * null when the shared design is singular). Null/NaN rows (any
    * feature or any target) are excluded, mirroring how the reference
    * builds one row mask for the shared X. */
  def linRegMultiTarget(df: DataFrame, features: Seq[Column],
                        targets: Seq[Column], groupNames: Seq[String] = Nil,
                        lambda: Double = 0.0, addBias: Boolean = true)
      : DataFrame = {
    val d = features.length
    val m = targets.length
    require(d >= 1 && m >= 1, "need features and targets")
    val dTot = d + (if (addBias) 1 else 0)
    val fx0 = features.map(_.cast("double"))
    val ys = targets.map(_.cast("double"))
    val valid = (fx0 ++ ys).map(c => c.isNotNull && !isnan(c))
      .reduce(_ && _)
    val xb: Seq[Column] = if (addBias) fx0 :+ lit(1.0) else fx0
    val gram = for { j <- 0 until dTot; k <- j until dTot }
      yield sum(when(valid, xb(j) * xb(k)).otherwise(0.0))
    val cross = for { t <- 0 until m; j <- 0 until dTot }
      yield sum(when(valid, xb(j) * ys(t)).otherwise(0.0))
    val packed = array(gram ++ cross :+
      sum(when(valid, 1).otherwise(0)).cast("double"): _*)
    val nGram = dTot * (dTot + 1) / 2
    val solver = udf { (p0: Seq[Double]) =>
      val p = p0.toArray // List at udf call sites: O(1) indexing after
      val n = p(nGram + m * dTot)
      if (n < dTot) null
      else {
        val a = Array.ofDim[Double](dTot, dTot + m)
        var idx = 0
        var j = 0
        while (j < dTot) {
          var k = j
          while (k < dTot) {
            a(j)(k) = p(idx); a(k)(j) = p(idx); k += 1; idx += 1
          }
          a(j)(j) += lambda
          j += 1
        }
        for (t <- 0 until m; j2 <- 0 until dTot)
          a(j2)(dTot + t) = p(nGram + t * dTot + j2)
        // one Gauss-Jordan over [A | Y'X] solves every target at once
        if (Solvers.gaussJordan(a, 1e-300).isNaN) null
        else Seq.tabulate(m)(t => Seq.tabulate(dTot)(i => a(i)(dTot + t)))
      }
    }
    val gc = groupNames.map(col)
    val agged = df.groupBy(gc: _*).agg(packed.as("_p"))
      .withColumn("_betas", solver(col("_p")))
    (0 until m).foldLeft(agged) { (acc, t) =>
      acc.withColumn(s"target_$t", element_at(col("_betas"), t + 1))
    }.drop("_p", "_betas")
  }

  /** Heteroskedasticity-consistent (HC0–HC3) standard errors for the
    * per-group OLS fit — statsmodels-parity robust errors (reference
    * lin_reg_report `std_err` kwarg, expr_linear.py:561;
    * test_linear_exprs.py:168 checks against statsmodels HC*_se).
    *
    * Spark-native two-pass design: pass 1 is one distributed Gram
    * aggregate per group (A = X'X, X'y → β, A⁻¹ on the driver, d² work
    * per group); pass 2 broadcasts (β, A⁻¹) back and aggregates the
    * sandwich "meat" Σ xxᵀ·e²/(1−h)^p per group with h = xᵀA⁻¹x and e
    * computed in pure codegen'd Column algebra — no row ever leaves the
    * executors, each pass is one shuffle of d²-sized partial states.
    *
    *  - HC0: A⁻¹ M A⁻¹,           M = Σ xxᵀe²
    *  - HC1: n/(n−d) · HC0
    *  - HC2: A⁻¹ Σ xxᵀe²/(1−h) A⁻¹
    *  - HC3: A⁻¹ Σ xxᵀe²/(1−h)² A⁻¹
    *
    * Output (one row per group): group keys, `coeffs`, `se` (classical
    * σ²A⁻¹), `hc0_se`..`hc3_se` — arrays ordered like `features`, bias
    * LAST when `addBias`. Groups whose design is singular are dropped.
    * Null/NaN rows are excluded from both passes. */
  def hcReport(df: DataFrame, features: Seq[Column], y: Column,
               groupNames: Seq[String] = Nil, addBias: Boolean = true,
               groupCap: Int = 100000)
      : DataFrame = {
    val spark = df.sparkSession
    val d = features.length
    val dTot = d + (if (addBias) 1 else 0)
    val fx0 = features.map(_.cast("double"))
    val yd = y.cast("double")
    val valid = (fx0 :+ yd).map(c => c.isNotNull && !isnan(c))
      .reduce(_ && _)
    val base = df.filter(valid)
    val xb: Seq[Column] = if (addBias) fx0 :+ lit(1.0) else fx0
    val gc = groupNames.map(col)
    val gramAggs =
      (for { j <- 0 until dTot; k <- j until dTot }
        yield sum(xb(j) * xb(k)).as(s"_g${j}_$k")) ++
      (0 until dTot).map(j => sum(xb(j) * yd).as(s"_xy$j")) :+
      count(lit(1)).as("_n")
    // fail fast on group cardinality BEFORE collecting Gram rows —
    // a high-cardinality key would OOM the driver here long after the
    // expensive aggregate already ran (same contract as
    // logisticFitGrouped / the Guard series caps)
    val pass1 = base.groupBy(gc: _*).agg(gramAggs.head, gramAggs.tail: _*)
      .limit(groupCap + 1).collect()
    require(pass1.length <= groupCap,
      s"hcReport: more than $groupCap groups — one Gram row per group " +
        "is collected to the driver (twice). Reduce the key " +
        "cardinality or raise groupCap (with driver heap to match).")
    // driver: per group solve A β = X'y and invert A (d² doubles each)
    case class Fit(key: Seq[Any], n: Long, beta: Array[Double],
                   ainv: Array[Array[Double]])
    val fits = pass1.flatMap { r =>
      // one elimination of [A | X'y | I] gives β and A⁻¹ together
      val aug = Array.ofDim[Double](dTot, 2 * dTot + 1)
      for (j <- 0 until dTot; k <- j until dTot) {
        val v = r.getDouble(r.fieldIndex(s"_g${j}_$k"))
        aug(j)(k) = v; aug(k)(j) = v
      }
      for (j <- 0 until dTot) {
        aug(j)(dTot) = r.getDouble(r.fieldIndex(s"_xy$j"))
        aug(j)(dTot + 1 + j) = 1.0
      }
      val n = r.getLong(r.fieldIndex("_n"))
      val singular = Solvers.gaussJordan(aug, 1e-300).isNaN
      val beta = Array.tabulate(dTot)(j => aug(j)(dTot))
      // n > dTot: classical sigma^2 divides by n − d, and HC2/HC3
      // leverages hit 1 exactly when a group is saturated
      if (n <= dTot || singular ||
        beta.exists(b => b.isNaN || b.isInfinite)) None
      else Some(Fit(groupNames.indices.map(r.get), n, beta,
        Array.tabulate(dTot, dTot)((j, k) => aug(j)(dTot + 1 + k))))
    }
    if (fits.isEmpty)
      throw new IllegalStateException("hcReport: every group singular")
    // pass 2: broadcast the fits back keyed by the REAL group columns
    // (never a rendered string - string concat can collide across
    // groups, and driver/executor renderings of the same value differ)
    val keyFields = groupNames.map(n => df.schema(df.schema.fieldIndex(n)))
    val fitSchema = org.apache.spark.sql.types.StructType(keyFields ++ Seq(
      org.apache.spark.sql.types.StructField("_fn",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_beta",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("_ainv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val fitRows = spark.createDataFrame(
      spark.sparkContext.parallelize(fits.toSeq.map(f =>
        org.apache.spark.sql.Row.fromSeq(
          f.key ++ Seq(f.n, f.beta.toSeq, f.ainv.flatten.toSeq))), 1),
      fitSchema)
    val keyed = base.join(broadcast(fitRows), groupNames)
    val pred = (0 until dTot).map(j =>
      xb(j) * element_at(col("_beta"), j + 1)).reduce(_ + _)
    val e2 = pow(yd - pred, 2.0)
    val h = (for { j <- 0 until dTot; k <- 0 until dTot }
      yield xb(j) * xb(k) *
        element_at(col("_ainv"), j * dTot + k + 1)).reduce(_ + _)
    val w0 = e2
    val w2 = e2 / (lit(1.0) - h)
    val w3 = e2 / pow(lit(1.0) - h, 2.0)
    val meatAggs =
      (for { j <- 0 until dTot; k <- j until dTot; (wc, t) <-
          Seq((w0, "a"), (w2, "b"), (w3, "c")) }
        yield sum(xb(j) * xb(k) * wc).as(s"_m$t${j}_$k")) :+
      sum(e2).as("_sse")
    val pass2 = keyed.groupBy(gc: _*)
      .agg(meatAggs.head, meatAggs.tail: _*).collect()
      .map(r => groupNames.indices.map(r.get).toList -> r).toMap
    val outRows = fits.flatMap { f =>
      pass2.get(f.key.toList).map { r =>
        def meat(t: String): Array[Array[Double]] = {
          val m = Array.ofDim[Double](dTot, dTot)
          for (j <- 0 until dTot; k <- j until dTot) {
            val v = r.getDouble(r.fieldIndex(s"_m$t${j}_$k"))
            m(j)(k) = v; m(k)(j) = v
          }
          m
        }
        def sandwichSe(m: Array[Array[Double]], scale: Double)
            : Seq[Double] = {
          val ai = f.ainv
          (0 until dTot).map { i =>
            var s = 0.0
            for (j <- 0 until dTot; k <- 0 until dTot)
              s += ai(i)(j) * m(j)(k) * ai(k)(i)
            math.sqrt(s * scale)
          }
        }
        val sse = r.getDouble(r.fieldIndex("_sse"))
        val sigma2 = sse / (f.n - dTot)
        val seClassic = (0 until dTot)
          .map(i => math.sqrt(sigma2 * f.ainv(i)(i)))
        org.apache.spark.sql.Row.fromSeq(f.key ++ Seq(
          f.beta.toSeq, seClassic,
          sandwichSe(meat("a"), 1.0),
          sandwichSe(meat("a"), f.n.toDouble / (f.n - dTot)),
          sandwichSe(meat("b"), 1.0),
          sandwichSe(meat("c"), 1.0)))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(keyFields ++
      Seq("coeffs", "se", "hc0_se", "hc1_se", "hc2_se", "hc3_se").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows.toSeq, 1), schema)
  }

  /** Shared IRLS inner loop over a cached primitive-array RDD — the
    * MLlib shape (see e.g. Spark's own mllib GradientDescent): the
    * data is converted ONCE to `(groupIdx, [x0..x{d-1}, y])`, and each
    * iteration is a single `treeAggregate` job with the betas in a
    * broadcast — no Catalyst analysis/codegen/broadcast-exchange per
    * step, which otherwise dominates the fit (measured ~0.5-0.7 s per
    * iteration of plan rebuild vs ~30 ms for the aggregate itself).
    *
    * Numerical behavior is owned by the caller: `wz(eta, y)` returns
    * the working weight and response for one row (each caller passes
    * its exact family math so results are bit-compatible with its
    * previous Column-algebra loop modulo sum order), and
    * `solve(xtx, xty, g)` turns a group's normal equations into new
    * coefficients (regularization included). A `null` solve freezes
    * the group at its previous β.
    *
    * Scale shape: the accumulator is dense `k·(d(d+1)/2+d)` doubles,
    * so callers must gate `k·gram` against [[denseGramBudget]] and
    * fall back to a shuffling `groupBy(...).agg` loop beyond it; every
    * group index in [0,k) must have at least one data row. */
  private[graft] def irlsEngine(
      data: org.apache.spark.rdd.RDD[(Int, Array[Double])],
      k: Int, d: Int, init: Array[Array[Double]],
      wz: (Double, Double) => (Double, Double),
      solve: (Array[Array[Double]], Array[Double], Int) => Array[Double],
      maxIter: Int, tol: Double,
      knownRows: Long = -1L): (Array[Array[Double]], Int) = {
    val sc = data.sparkContext
    val nTri = d * (d + 1) / 2
    val nG = nTri + d
    // Small-data fast path: every IRLS iteration is a full distributed
    // job (broadcast β + treeAggregate) whose scheduler overhead
    // dominates when the projected rows fit in driver memory — a
    // 40-iteration fit on bench-sized data is 40 jobs of overhead for
    // microseconds of math. Below `graft.maxLocalIrls` projected
    // doubles (default 4M = 32 MB; the input RDD is always the narrow
    // (group, features+y) projection, already persisted by callers),
    // collect ONCE and run the identical iteration locally. The Gram
    // sums differ from treeAggregate only in FP association order —
    // the same nondeterminism partitioning already introduces.
    // callers that already know the row count (from their own sizing
    // aggregate) pass it in — the count() here is otherwise a FULL
    // extra pass over the data before the first real iteration
    lazy val mRows = if (knownRows >= 0L) knownRows else data.count()
    // The identical iteration over driver-resident rows — used
    // wholesale below the local cap, and on a subsample as the
    // distributed loop's warm start.
    // Converged-group early-exit (r13 verdict ask #6): IRLS updates
    // are independent per group, so a group whose own step fell to
    // ≤ tol is DONE — its β is frozen and its rows are masked out of
    // every subsequent Gram accumulation (the per-row O(d²) math, the
    // dominant cost) and its solve skipped. The unmasked loop would
    // keep Newton-refining converged groups by < tol per step while
    // the slowest group finishes, so masked ≡ unmasked within a few
    // ulps of tol (GuardSpec pins it; disable with
    // -Dgraft.irlsNoEarlyExit for the comparison). Iteration cost
    // then decays with the convergence curve instead of staying flat
    // at k groups for the max iteration count.
    val noEarlyExit = java.lang.Boolean.getBoolean("graft.irlsNoEarlyExit")
    def localIterate(rows: Array[(Int, Array[Double])],
                     init0: Array[Array[Double]])
        : (Array[Array[Double]], Int) = {
      var betasL = init0
      var itersL = 0
      var deltaL = Double.MaxValue
      val active = Array.fill(k)(true)
      // Gram accumulation over one fixed row range (shared by the
      // sequential and multi-threaded paths below). Rows of frozen
      // groups are skipped — `active` is only mutated between
      // iterations, so the worker threads read a stable snapshot.
      def accumulate(from: Int, until: Int, betas: Array[Array[Double]],
                     acc: Array[Double]): Unit = {
        var r = from
        while (r < until) {
          val g = rows(r)._1
          if (!active(g)) { r += 1 }
          else {
          val arr = rows(r)._2
          val b = betas(g)
          var eta = 0.0
          var i = 0
          while (i < d) { eta += b(i) * arr(i); i += 1 }
          val wzr = wz(eta, arr(d))
          val w = wzr._1
          val z = wzr._2
          val off = g * nG
          var p = off
          i = 0
          while (i < d) {
            val wxi = w * arr(i)
            var j = i
            while (j < d) { acc(p) += wxi * arr(j); p += 1; j += 1 }
            i += 1
          }
          i = 0
          while (i < d) { acc(off + nTri + i) += w * arr(i) * z; i += 1 }
          r += 1
          }
        }
      }
      // Past ~50k rows the per-iteration row sweep dominates the fit
      // (60 iterations x 600k rows was single-threaded driver math
      // while 31 cores idled) — split into FIXED row chunks, one
      // thread each, merged in chunk order. Deterministic for a given
      // row order and thread count; differs from the sequential sweep
      // only in FP association order, the same nondeterminism
      // partitioning already introduces (and the reason the fit is
      // tol-converged before use).
      val nThreads =
        if (rows.length < 50000) 1
        else math.min(16, Runtime.getRuntime.availableProcessors)
      while (itersL < maxIter && deltaL > tol) {
        val acc = new Array[Double](k * nG)
        if (nThreads == 1) accumulate(0, rows.length, betasL, acc)
        else {
          val accs = new Array[Array[Double]](nThreads)
          val betasNow = betasL
          val threads = Array.tabulate(nThreads) { t =>
            val th = new Thread(() => {
              val a = new Array[Double](k * nG)
              accumulate(t * rows.length / nThreads,
                (t + 1) * rows.length / nThreads, betasNow, a)
              accs(t) = a
            })
            th.start(); th
          }
          threads.foreach(_.join())
          var t = 0
          while (t < nThreads) {
            val a = accs(t)
            var p = 0
            while (p < acc.length) { acc(p) += a(p); p += 1 }
            t += 1
          }
        }
        if (rows.isEmpty) return (betasL, itersL)
        deltaL = 0.0
        val nb = new Array[Array[Double]](k)
        var g = 0
        while (g < k) {
          if (!active(g)) { nb(g) = betasL(g); g += 1 }
          else {
          val off = g * nG
          val xtx = Array.ofDim[Double](d, d)
          var p = off
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              xtx(i)(j) = acc(p); xtx(j)(i) = acc(p); p += 1; j += 1
            }
            i += 1
          }
          val xty = Array.tabulate(d)(i => acc(off + nTri + i))
          val sb = solve(xtx, xty, g)
          val old = betasL(g)
          val out = if (sb == null) old else sb
          var dm = 0.0
          i = 0
          while (i < d) {
            dm = math.max(dm, math.abs(out(i) - old(i))); i += 1
          }
          deltaL = math.max(deltaL, dm)
          if (dm <= tol && !noEarlyExit) active(g) = false
          nb(g) = out
          g += 1
          }
        }
        betasL = nb
        itersL += 1
      }
      (betasL, itersL)
    }
    // single definition of the local-path gate (r16 ADVICE): callers'
    // skip-persist decision reads the same predicate, so the two can
    // never silently desync
    if (irlsGoesLocal(mRows, d, maxIter))
      return localIterate(data.collect(), init)
    var betas = init
    // Warm start (above-cap data): IRLS is Newton on the working
    // likelihood, so starting from the MLE of a maxLocalIrls-sized
    // subsample — within O(1/sqrt(m)) of the full-data optimum — cuts
    // the distributed iteration count from tens to a handful, each
    // saved iteration being a full broadcast+treeAggregate job. The
    // sample fit runs the identical local loop; groups the sample
    // misses keep the caller's init (their solve sees a singular Gram
    // → null → freeze) and converge in the distributed loop as
    // before. The final β still satisfies the same (maxIter, tol)
    // contract against the FULL data — the warm start only moves the
    // starting point.
    if (maxIter > 1) {
      val sampleRows = maxLocalIrls / (d + 2)
      if (sampleRows > 0 && mRows > 0) {
        val frac = sampleRows.toDouble / mRows // < 1 above the cap
        val sample = data.sample(withReplacement = false, frac, 42L)
          .collect()
        if (sample.nonEmpty) {
          betas = localIterate(sample, init)._1
        }
      }
    }
    var iters = 0
    var delta = Double.MaxValue
    // FP-noise-floor stall detection: treeAggregate's combine order is
    // non-deterministic, so once the fit is converged the per-iteration
    // delta jitters at ~n·eps·|beta| and can sit just ABOVE an
    // aggressive tol forever (measured: delta cycling at 6.5e-12
    // against tol=1e-12 for 56 wasted full-cluster jobs at sf1). When
    // delta is already tiny relative to the coefficients (8+ converged
    // significant digits) and has stopped improving for two
    // consecutive iterations, the loop is at the achievable precision
    // of float summation — declare convergence.
    var bestDelta = Double.MaxValue
    var stall = 0
    // converged-group mask, distributed twin of localIterate's: rows
    // of frozen groups skip the per-row Gram math inside the
    // treeAggregate (the broadcast snapshot is cloned per iteration so
    // in-flight tasks never see a mid-iteration mutation)
    val activeD = Array.fill(k)(true)
    while (iters < maxIter && delta > tol && stall < 2) {
      val bc = sc.broadcast(betas)
      val bcA = sc.broadcast(activeD.clone())
      // zero value is null, lazily allocated per partition: the real
      // zero array would be serialized into every task closure
      val acc = data.treeAggregate(null.asInstanceOf[Array[Double]])(
        (a0, kv) => {
          val g0 = kv._1
          if (!bcA.value(g0)) a0
          else {
          val a = if (a0 == null) new Array[Double](k * nG) else a0
          val g = kv._1
          val arr = kv._2
          val b = bc.value(g)
          var eta = 0.0
          var i = 0
          while (i < d) { eta += b(i) * arr(i); i += 1 }
          val wzr = wz(eta, arr(d))
          val w = wzr._1
          val z = wzr._2
          val off = g * nG
          var p = off
          i = 0
          while (i < d) {
            val wxi = w * arr(i)
            var j = i
            while (j < d) { a(p) += wxi * arr(j); p += 1; j += 1 }
            i += 1
          }
          i = 0
          while (i < d) { a(off + nTri + i) += w * arr(i) * z; i += 1 }
          a
          }
        },
        (x, y) =>
          if (x == null) y
          else if (y == null) x
          else {
            var i = 0
            while (i < x.length) { x(i) += y(i); i += 1 }
            x
          })
      bc.destroy()
      bcA.destroy()
      if (acc == null) return (betas, iters) // no rows at all
      delta = 0.0
      val nb = new Array[Array[Double]](k)
      var g = 0
      while (g < k) {
        if (!activeD(g)) { nb(g) = betas(g); g += 1 }
        else {
        val off = g * nG
        val xtx = Array.ofDim[Double](d, d)
        var p = off
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) {
            xtx(i)(j) = acc(p); xtx(j)(i) = acc(p); p += 1; j += 1
          }
          i += 1
        }
        val xty = Array.tabulate(d)(i => acc(off + nTri + i))
        val sb = solve(xtx, xty, g)
        val old = betas(g)
        val out = if (sb == null) old else sb
        var dm = 0.0
        i = 0
        while (i < d) {
          dm = math.max(dm, math.abs(out(i) - old(i))); i += 1
        }
        delta = math.max(delta, dm)
        if (dm <= tol && !noEarlyExit) activeD(g) = false
        nb(g) = out
        g += 1
        }
      }
      betas = nb
      iters += 1
      var betaScale = 0.0
      var gi = 0
      while (gi < k) {
        val b = nb(gi)
        var i = 0
        while (i < d) {
          betaScale = math.max(betaScale, math.abs(b(i))); i += 1
        }
        gi += 1
      }
      val atFloor = delta < 1e-8 * (1.0 + betaScale)
      if (atFloor && delta >= bestDelta * 0.9) stall += 1 else stall = 0
      bestDelta = math.min(bestDelta, delta)
    }
    (betas, iters)
  }

  /** True when [[irlsEngine]] with these dimensions takes the local
    * (driver-iterate) path — callers use it to skip persisting the
    * primitive RDD that the local path reads exactly once. */
  private[graft] def irlsGoesLocal(rows: Long, d: Int,
                                   maxIter: Int): Boolean =
    maxIter > 1 && fitsLocalIrls(rows, d + 2)

  /** True when `rows` rows of `width` doubles fit [[maxLocalIrls]]:
    * the local-path test of the Cox, Huber and quantile fits. */
  private[graft] def fitsLocalIrls(rows: Long, width: Int): Boolean =
    rows * width <= maxLocalIrls

  /** The `graft.maxLocalIrls` budget of projected doubles for the
    * driver-local IRLS paths (docs/CAPS.md), read on every call so a
    * property set at run time takes effect. */
  private[graft] def maxLocalIrls: Long =
    java.lang.Long.getLong("graft.maxLocalIrls", 4000000L)

  /** Dense per-group Gram accumulator budget for [[irlsEngine]]:
    * 2M doubles = 16 MB per in-flight task accumulator. Beyond this
    * (many groups × wide feature sets) the grouped fits fall back to
    * the shuffling `groupBy.agg` loop, which scales in group count. */
  private[graft] val denseGramBudget = 2000000L

  /** Binary logistic regression via IRLS — each iteration is ONE
    * distributed weighted-Gram aggregate; β lives on the driver
    * (d+1 doubles), never the data. (expr_linear.py:277 logistic_reg;
    * solver src/linear/logistic/logistic_solver.rs:104 uses L-BFGS —
    * IRLS reaches the same MLE.)
    *
    * @param features feature columns (bias appended automatically)
    * @return fitted coefficients, bias last. */
  def logisticFit(df: DataFrame, features: Seq[Column], y: Column,
                  maxIter: Int = 25, tol: Double = 1e-10,
                  lambda: Double = 0.0, l1: Double = 0.0): Array[Double] = {
    val d = features.length + 1
    val fx = features :+ lit(1.0)
    var beta = new Array[Double](d)
    // null_policy="skip": drop any-null/NaN rows before the Gram sums
    // (see glmFitGrouped)
    val validRow = (features.map(_.cast("double")) :+ y.cast("double"))
      .map(c => c.isNotNull && !isnan(c)).reduce(_ && _)
    // persist the narrow projection: each IRLS iteration re-scans it
    val cached = df.filter(validRow)
      .select((fx :+ y.cast("double").as(s"${P}y")).zipWithIndex
      .map { case (c, i) => if (i < d) c.cast("double").as(s"${P}f$i")
        else c }: _*).persist() // persist-ok: the finally below unpersists it
    // one strict count: materializes the projection cache, scales the
    // l1 threshold, and feeds irlsEngine's local-path gate so the
    // engine never pays its own counting pass
    val mRows = cached.count()
    val mCount = mRows.toDouble
    val data0 = cached.queryExecution.toRdd.map { ir =>
      val arr = new Array[Double](d + 1)
      var i = 0
      while (i <= d) { arr(i) = ir.getDouble(i); i += 1 }
      (0, arr)
    }
    // local path reads the rows exactly once (collect) — persisting
    // the RDD would only add a second cache of `cached`'s bytes
    val data = if (irlsGoesLocal(mRows, d, maxIter)) data0
      // persist-ok: the finally below unpersists it
      else data0.persist()
    // w = μ(1−μ)+ε ; z = η + (y − μ)/w — one weighted-Gram pass per step
    val wz = (eta: Double, y: Double) => {
      val mu = 1.0 / (math.exp(-eta) + 1.0)
      val w = mu * (1.0 - mu) + 1e-10
      (w, eta + (y - mu) / w)
    }
    // l1_reg (expr_linear.py:281): solve the IRLS quadratic with
    // glmnet-style coordinate descent instead — soft-threshold on
    // the non-bias coordinates; lambda (l2) stays on the full diag
    // for back-compat.
    val solve = (xtx: Array[Array[Double]], xty: Array[Double], _: Int) =>
      if (l1 > 0.0)
        Solvers.elasticNet(xtx, xty, l1 = mCount * l1,
          l2 = 0.0, penalize = _ < d - 1)
      else Solvers.ridge(xtx, xty, lambda)
    try irlsEngine(data, 1, d, Array(beta), wz, solve, maxIter, tol,
      knownRows = mRows)._1(0)
    finally { data.unpersist(); cached.unpersist() }
  }

  /** Per-GROUP binary logistic regression — the reference's headline
    * pattern of regressions inside `group_by().agg()`
    * (expr_linear.py:277 used under group_by throughout
    * tests/test_linear_exprs.py). Batch IRLS: every iteration is ONE
    * distributed `groupBy(keys).agg(weighted Gram)` pass computing all
    * groups' normal equations simultaneously; the driver holds one
    * (d+1)-vector per group and broadcasts them back as a literal
    * frame, so the data never leaves the executors and iteration count
    * does not multiply per group.
    *
    * Regularization follows the reference's loss scaling (mean log
    * loss, logistic_solver.rs:70 `total_loss / m`): `l2` adds m·l2 to
    * the non-bias Gram diagonal; `l1 > 0` routes the per-group solve
    * through glmnet-style coordinate descent on the IRLS quadratic
    * ([[graft.linear.Solvers.elasticNet]]) with threshold m·l1. The
    * bias is never penalized (sklearn/glmnet convention; the
    * reference's OWL-QN quirk of l1-penalizing the bias is a
    * documented divergence).
    *
    * The per-group driver state is d+1 doubles; `groupCap` bounds the
    * collected Gram rows ((d+1)² doubles per group) with a loud error
    * instead of a driver OOM.
    *
    * @return one row per group: (groupCols*, beta array<double> with
    *         bias LAST, iters). */
  def logisticFitGrouped(df: DataFrame, groupCols: Seq[String],
                         features: Seq[Column], y: Column,
                         maxIter: Int = 30, tol: Double = 1e-9,
                         l1: Double = 0.0, l2: Double = 0.0,
                         groupCap: Int = 100000): DataFrame =
    glmFitGrouped(df, groupCols, features, y, "binomial", maxIter, tol,
      l1, l2, groupCap)

  /** Per-GROUP GLM (families normal/poisson/binomial/gamma, canonical
    * links as [[graft.linear.GLM]]: log for poisson, logit for
    * binomial, INVERSE for gamma, identity for normal —
    * glm_solvers.rs:29-36) — the same batch-IRLS engine as
    * [[logisticFitGrouped]]: one distributed per-group weighted-Gram
    * aggregate per iteration for ALL groups, per-group β on the
    * driver, broadcast back as a literal frame. Per-group bias init
    * from the group mean on the link scale (the solo GLM's device)
    * keeps exp-link groups from overflowing on the first step. */
  def glmFitGrouped(df: DataFrame, groupCols: Seq[String],
                    features: Seq[Column], y: Column,
                    family: String = "binomial",
                    maxIter: Int = 30, tol: Double = 1e-9,
                    l1: Double = 0.0, l2: Double = 0.0,
                    groupCap: Int = 100000): DataFrame = {
    require(Seq("normal", "poisson", "binomial", "gamma").contains(family),
      s"glmFitGrouped: unknown family $family")
    val spark = df.sparkSession
    val d = features.length + 1
    val gc = groupCols.map(col)
    // null_policy="skip" (typing.py:25): a row with any null/NaN input
    // is dropped BEFORE the Gram sums — letting nulls reach sum() would
    // drop different rows from different Gram entries and corrupt the
    // normal equations silently
    val validRow = (features.map(_.cast("double")) :+ y.cast("double"))
      .map(c => c.isNotNull && !isnan(c)).reduce(_ && _)
    val proj = df.filter(validRow).select(gc ++
      features.zipWithIndex.map { case (c, i) =>
        c.cast("double").as(s"${P}f$i") } ++
      Seq(lit(1.0).as(s"${P}f${d - 1}"), y.cast("double").as(s"${P}y")): _*)
      .persist() // persist-ok: the finally below unpersists it
    try {
      // group inventory + sizes + mean(y) in one pass; fail fast on
      // cardinality
      val sizes = proj.groupBy(gc: _*)
        .agg(count(lit(1)).cast("double").as("m"),
          avg(col(s"${P}y")).as("my"))
        .limit(groupCap + 1).collect()
      require(sizes.length <= groupCap,
        s"glmFitGrouped: more than $groupCap groups; the per-group " +
          "Gram rows are collected to the driver. Reduce the key " +
          "cardinality or raise groupCap (with driver heap to match).")
      val keys = sizes.map(r => Seq.tabulate(groupCols.length)(r.get))
      val mOf = keys.zip(sizes.map(_.getDouble(groupCols.length))).toMap
      var betas: Map[Seq[Any], Array[Double]] =
        keys.zip(sizes.map(_.getDouble(groupCols.length + 1))).map {
          case (k, my) =>
            val b = new Array[Double](d)
            b(d - 1) = family match {
              case "binomial" =>
                math.log((my + 1e-12) / (1 - my + 1e-12))
              case "poisson" => math.log(math.max(my, 1e-12))
              case "gamma"   => 1.0 / math.max(my, 1e-12)
              case _ => 0.0
            }
            k -> b
        }.toMap
      var iters = 0
      var delta = Double.MaxValue
      val k = keys.length
      val nGram = d.toLong * (d + 1) / 2 + d
      if (k.toLong * nGram <= denseGramBudget) {
        // fast path: primitive-array RDD + one treeAggregate per
        // iteration (see irlsEngine) — identical per-row math to the
        // SQL loop below, just without the per-iteration plan rebuild
        val keyIdx = keys.zipWithIndex.toMap
        val bcIdx = spark.sparkContext.broadcast(keyIdx)
        val gLen = groupCols.length
        // total row count is already known from the sizing aggregate:
        // skip irlsEngine's own count() pass, and skip the RDD persist
        // when the engine will collect the rows once (local path) —
        // the cache write is then pure overhead on top of `proj`'s
        val totalRows = sizes.map(_.getDouble(gLen)).sum.toLong
        val goLocal = irlsGoesLocal(totalRows, d, maxIter)
        // InternalRow path (queryExecution.toRdd): the .rdd view boxes
        // every double into a GenericRow field — pure allocation on
        // the engine's hottest conversion. Keys convert through the
        // per-type Catalyst→Scala converter so they compare equal to
        // the external rows of the sizing collect above.
        val keyTypes = proj.schema.take(gLen).map(_.dataType)
        val keyConvs = keyTypes.map(org.apache.spark.sql.catalyst
          .CatalystTypeConverters.createToScalaConverter)
        val data0 = proj.queryExecution.toRdd.map { ir =>
          val key: Seq[Any] = Seq.tabulate(gLen)(i =>
            keyConvs(i)(ir.get(i, keyTypes(i))))
          val arr = new Array[Double](d + 1)
          var i = 0
          while (i <= d) { arr(i) = ir.getDouble(gLen + i); i += 1 }
          (bcIdx.value(key), arr)
        }
        val data = if (goLocal) data0
          else data0.persist( // persist-ok: the finally below unpersists it
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mArr = keys.map(mOf)
        val wz: (Double, Double) => (Double, Double) = family match {
          case "binomial" => (eta, y) => {
            val mu = 1.0 / (math.exp(-eta) + 1.0)
            val w = mu * (1.0 - mu) + 1e-10
            (w, eta + (y - mu) / w)
          }
          case "poisson" => (eta, y) => {
            val mu = math.exp(eta)
            val w = mu + 1e-10
            (w, eta + (y - mu) / w)
          }
          case "gamma" => (eta, y) => {
            // canonical inverse link (glm_solvers.rs:33): μ = 1/η,
            // w = μ², z = η − (y−μ)η²; η guarded for no-bias starts
            val e = if (math.abs(eta) < 1e-12) 1e-12 else eta
            val mu = 1.0 / e
            (mu * mu, e - (y - mu) * e * e)
          }
          case _ => (_, y) => (1.0, y) // normal: one-step solve
        }
        val solve =
          (xtx: Array[Array[Double]], xty: Array[Double], g: Int) => {
            val m = mArr(g)
            if (l1 > 0.0)
              Solvers.elasticNet(xtx, xty,
                l1 = m * l1, l2 = m * l2, penalize = _ < d - 1)
            else Solvers.solve(Array.tabulate(d, d)((i, j) => xtx(i)(j) +
              (if (i == j && i < d - 1) m * l2 else 0.0)), xty)
          }
        try {
          val (fit, it) = irlsEngine(data, k, d,
            keys.map(betas), wz, solve, maxIter, tol,
            knownRows = totalRows)
          betas = keys.zip(fit).toMap
          iters = it
        } finally { data.unpersist(); bcIdx.destroy() }
        delta = 0.0 // converged or maxIter — skip the SQL loop
      }
      val keySchema = org.apache.spark.sql.types.StructType(
        proj.schema.fields.take(groupCols.length).zipWithIndex.map {
          case (f, i) => f.copy(name = s"${P}k$i") })
      val betaSchema = keySchema
        .add(s"${P}beta", "array<double>")
      while (iters < maxIter && delta > tol) {
        val betaRows = betas.toSeq.map { case (k, b) =>
          org.apache.spark.sql.Row.fromSeq(k :+ b.toSeq) }
        val betaDf = spark.createDataFrame(
          spark.sparkContext.parallelize(betaRows, 1), betaSchema)
        // null-safe key equality: groupBy treats NULL as a real group,
        // so a plain equi-join would silently drop a null-keyed
        // group's β and freeze it at the init value
        val joinCond = groupCols.zipWithIndex.map { case (c, i) =>
          proj(c) <=> betaDf(s"${P}k$i") }.reduce(_ && _)
        val joined = proj.join(broadcast(betaDf), joinCond)
        val eta = (0 until d).map(i =>
          col(s"${P}f$i") * element_at(col(s"${P}beta"), i + 1))
          .reduce(_ + _)
        val etaG = when(abs(eta) < 1e-12, 1e-12).otherwise(eta)
        val (mu, wgt) = family match {
          case "binomial" =>
            val m = lit(1.0) / (exp(-eta) + 1.0)
            (m, m * (lit(1.0) - m) + 1e-10)
          case "poisson" => val m = exp(eta); (m, m + 1e-10)
          // canonical inverse link: μ = 1/η, w = μ²
          case "gamma"   => val m = lit(1.0) / etaG; (m, m * m)
          case _         => (eta, lit(1.0)) // normal: one-step solve
        }
        val z = family match {
          case "normal" => col(s"${P}y")
          case "gamma"  => etaG - (col(s"${P}y") - mu) * etaG * etaG
          case _        => eta + (col(s"${P}y") - mu) / wgt
        }
        val gramCols =
          (for (i <- 0 until d; j <- i until d)
            yield sum(wgt * col(s"${P}f$i") * col(s"${P}f$j"))
              .as(s"g_${i}_$j")) ++
          (0 until d).map(i => sum(wgt * col(s"${P}f$i") * z).as(s"b_$i"))
        val rows = joined.groupBy(gc: _*)
          .agg(gramCols.head, gramCols.tail: _*).collect()
        delta = 0.0
        betas = rows.map { r =>
          val key = Seq.tabulate(groupCols.length)(r.get)
          val base = groupCols.length
          val xtx = Array.ofDim[Double](d, d)
          var k = base
          for (i <- 0 until d; j <- i until d) {
            xtx(i)(j) = r.getDouble(k); xtx(j)(i) = xtx(i)(j); k += 1
          }
          val xty = Array.tabulate(d)(i => r.getDouble(k + i))
          val m = mOf(key)
          val nb =
            if (l1 > 0.0)
              Solvers.elasticNet(xtx, xty,
                l1 = m * l1, l2 = m * l2, penalize = _ < d - 1)
            else Solvers.solve(Array.tabulate(d, d)((i, j) => xtx(i)(j) +
              (if (i == j && i < d - 1) m * l2 else 0.0)), xty)
          val old = betas(key)
          var dm = 0.0
          var i = 0
          while (i < d) {
            dm = math.max(dm, math.abs(nb(i) - old(i))); i += 1
          }
          delta = math.max(delta, dm)
          key -> nb
        }.toMap
        iters += 1
      }
      val outRows = betas.toSeq.map { case (k, b) =>
        org.apache.spark.sql.Row.fromSeq(k ++ Seq(b.toSeq, iters)) }
      val outSchema = org.apache.spark.sql.types.StructType(
        proj.schema.fields.take(groupCols.length))
        .add("beta", "array<double>").add("iters", "int")
      spark.createDataFrame(
        spark.sparkContext.parallelize(outRows, 1), outSchema)
    } finally proj.unpersist()
  }

  /** Response-scale per-row predictions from a [[glmFitGrouped]] /
    * [[logisticFitGrouped]] result: null-safe broadcast join of the
    * per-group betas, linear predictor via element_at, inverse link by
    * family. Adds `out`; rows whose group has no fit get null. */
  def glmPredictGrouped(df: DataFrame, fit: DataFrame,
                        groupCols: Seq[String], features: Seq[Column],
                        family: String = "binomial",
                        out: String = "prediction"): DataFrame = {
    val betas = fit.select(
      groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"${P}k$i") } :+ col("beta").as(s"${P}beta"): _*)
    val joinCond = groupCols.zipWithIndex.map { case (c, i) =>
      df(c) <=> betas(s"${P}k$i") }.reduce(_ && _)
    val joined = df.join(broadcast(betas), joinCond, "left")
    val d = features.length + 1
    val eta = features.zipWithIndex.map { case (c, i) =>
      c.cast("double") * element_at(col(s"${P}beta"), i + 1) }
      .reduce(_ + _) + element_at(col(s"${P}beta"), d)
    val mu = family match {
      case "poisson"  => exp(eta)
      case "gamma"    => lit(1.0) / eta // canonical inverse link
      case "binomial" => lit(1.0) / (exp(-eta) + 1.0)
      case _          => eta
    }
    joined.withColumn(out, mu)
      .drop((0 until groupCols.length).map(i => s"${P}k$i") :+
        s"${P}beta": _*)
  }

  /** Sigmoid prediction column from fitted coefficients (bias last). */
  def logisticPredict(features: Seq[Column], beta: Array[Double]): Column = {
    val eta = features.zipWithIndex
      .map { case (c, i) => c * beta(i) }
      .reduce(_ + _) + beta.last
    lit(1.0) / (exp(-eta) + 1.0)
  }
}
