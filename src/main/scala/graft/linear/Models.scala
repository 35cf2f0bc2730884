package graft.linear

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Persistent models + GLM (SURVEY §2.9; reference
  * python/polars_ds/linear_models.py LR/ElasticNet/OnlineLR/GLM backed
  * by src/pymodels; GLM IRLS src/linear/glm/glm_solvers.rs:249).
  *
  * fit(df) = ONE distributed Gram aggregate per IRLS iteration (β and
  * the d×d state live on the driver, never the data); predict(df) =
  * a codegen'd dot-product column. The classic Spark-ML
  * Estimator/Transformer split without MLlib Vector types.
  */
object Gram {

  /** One-pass weighted Gram: returns (X'WX, X'Wy, n). `w` may be a
    * literal 1.0 column for unweighted fits. */
  def collect(df: DataFrame, features: Seq[Column], y: Column, w: Column)
      : (Array[Array[Double]], Array[Double], Double) = {
    val d = features.length
    val fx = features.zipWithIndex.map { case (c, i) =>
      c.cast("double").as(s"__f$i") }
    // null_policy="skip" (linear_models.py:38-126 sanitizes before the
    // solver): drop any-null/NaN rows whole — letting them reach sum()
    // would drop different rows from different Gram ENTRIES and corrupt
    // the normal equations silently
    val validRow = (features.map(_.cast("double")) ++
        Seq(y.cast("double"), w.cast("double")))
      .map(c => c.isNotNull && !isnan(c)).reduce(_ && _)
    val pre = df.filter(validRow)
      .select(fx ++ Seq(y.cast("double").as("__y"),
        w.cast("double").as("__w")): _*)
    val aggs =
      (for (i <- 0 until d; j <- i until d) yield
        sum(col("__w") * col(s"__f$i") * col(s"__f$j"))
          .as(s"__g_${i}_$j")) ++
      (0 until d).map(i =>
        sum(col("__w") * col(s"__f$i") * col("__y")).as(s"__b_$i")) :+
      count(lit(1)).cast("double").as("__n")
    val r = pre.agg(aggs.head, aggs.tail: _*).head
    val xtx = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      xtx(i)(j) = r.getDouble(idx); xtx(j)(i) = xtx(i)(j); idx += 1
    }
    val xty = Array.tabulate(d)(i => r.getDouble(idx + i))
    (xtx, xty, r.getDouble(idx + d))
  }

  /** Dot-product prediction column. */
  def predict(features: Seq[Column], beta: Array[Double]): Column =
    features.zip(beta).map { case (c, b) => c.cast("double") * b }
      .reduce(_ + _)
}

/** OLS/ridge persistent model (linear_models.py:127 LR). */
class LR(lambda: Double = 0.0, addBias: Boolean = true) {
  var coeffs: Array[Double] = _

  def isFit: Boolean = coeffs != null
  /** Bias term (0 when fitted without one) — linear_models.py:219. */
  def bias: Double = if (addBias) coeffs.last else 0.0

  private def fx(features: Seq[Column]) =
    if (addBias) features :+ lit(1.0) else features

  def fit(df: DataFrame, features: Seq[Column], target: Column): this.type = {
    val (xtx, xty, _) = Gram.collect(df, fx(features), target, lit(1.0))
    coeffs = Solvers.ridge(xtx, xty, lambda)
    this
  }

  def predict(features: Seq[Column]): Column =
    Gram.predict(fx(features), coeffs)

  def predictDf(df: DataFrame, features: Seq[Column],
                out: String = "prediction"): DataFrame =
    df.withColumn(out, predict(features))
}

object LR {
  /** Construct a fitted LR from known coefficients (+ bias)
    * (linear_models.py:158 from_values). */
  def fromValues(coeffs: Array[Double], bias: Double = 0.0): LR = {
    val withBias = bias != 0.0
    val m = new LR(addBias = withBias)
    m.coeffs = if (withBias) coeffs :+ bias else coeffs.clone()
    m
  }
}

/** Elastic net persistent model (linear_models.py:343); bias
  * unpenalized, matching the reference. */
class ElasticNet(l1: Double, l2: Double, addBias: Boolean = true) {
  var coeffs: Array[Double] = _

  private def fx(features: Seq[Column]) =
    if (addBias) features :+ lit(1.0) else features

  def fit(df: DataFrame, features: Seq[Column], target: Column): this.type = {
    val (xtx, xty, _) = Gram.collect(df, fx(features), target, lit(1.0))
    val d = xty.length
    coeffs = Solvers.elasticNet(xtx, xty, l1, l2,
      penalize = j => !(addBias && j == d - 1))
    this
  }

  def predict(features: Seq[Column]): Column =
    Gram.predict(fx(features), coeffs)
}

object ElasticNet {
  /** Construct a fitted model from known coefficients (+ bias)
    * (linear_models.py:386 from_values; has_bias ⇔ bias ≠ 0). */
  def fromValues(coeffs: Array[Double], bias: Double = 0.0): ElasticNet = {
    val withBias = bias != 0.0
    val m = new ElasticNet(0.0, 0.0, addBias = withBias)
    m.coeffs = if (withBias) coeffs :+ bias else coeffs.clone()
    m
  }
}

/** Online (recursive) least squares with Woodbury rank-1 updates
  * (linear_models.py:553 OnlineLR; lr_online_solvers.rs:307). State is
  * P = (X'X + λI)⁻¹ and β, updated per observation on the driver. */
class OnlineLR(d: Int, lambda: Double = 1e-6) {
  private val p = Array.tabulate(d, d)((i, j) =>
    if (i == j) 1.0 / lambda else 0.0)
  val beta = new Array[Double](d)

  /** Rank-1 Woodbury update with observation scale `c`
    * (linear_models.py:651: c = 1 adds the row, c = −1 REMOVES a
    * previously-added row — sliding-window regression — any other
    * value scales its impact): (A + c·xx')⁻¹ = P − Px x'P/(1/c + x'Px). */
  def update(x: Array[Double], y: Double, c: Double = 1.0): this.type = {
    val px = Array.tabulate(d)(i => (0 until d).map(j => p(i)(j) * x(j)).sum)
    val denom = 1.0 / c + (0 until d).map(i => x(i) * px(i)).sum
    val err = y - (0 until d).map(i => x(i) * beta(i)).sum
    for (i <- 0 until d) beta(i) += px(i) * err / denom
    for (i <- 0 until d; j <- 0 until d)
      p(i)(j) -= px(i) * px(j) / denom
    this
  }

  def predict(x: Array[Double]): Double =
    (0 until d).map(i => x(i) * beta(i)).sum
}

object OnlineLR {
  /** Reconstruct a fitted online model from coefficients and the
    * current inverse Gram (linear_models.py:580
    * from_coeffs_bias_inverse). `inv` is row-major d×d. */
  def fromCoeffsAndInverse(coeffs: Array[Double],
                           inv: Array[Array[Double]]): OnlineLR = {
    val d = coeffs.length
    require(inv.length == d && inv.forall(_.length == d),
      s"OnlineLR: inverse must be ${d}x$d")
    val m = new OnlineLR(d)
    Array.copy(coeffs, 0, m.beta, 0, d)
    for (i <- 0 until d; j <- 0 until d) m.p(i)(j) = inv(i)(j)
    m
  }
}

/** GLM via IRLS — each iteration is one distributed weighted-Gram
  * aggregate (glm_solvers.rs:249). Canonical links per family
  * (glm_solvers.rs:29-36): identity for normal, log for poisson,
  * logit for binomial, INVERSE for gamma (1/μ — not log; the
  * reference documents and implements the canonical link, so gamma
  * coefficients here match a user porting off it). IRLS weights are
  * 1/(g'(μ)²·V(μ)) with the family variance (link_functions.rs:63). */
class GLM(family: String, addBias: Boolean = true,
          maxIter: Int = 50, tol: Double = 1e-10) {
  var coeffs: Array[Double] = _
  var iterations: Int = 0

  private def fx(features: Seq[Column]) =
    if (addBias) features :+ lit(1.0) else features

  def fit(df: DataFrame, features: Seq[Column], target: Column): this.type = {
    val feats0 = fx(features)
    val d = feats0.length
    if (family == "normal") {
      val (xtx, xty, _) = Gram.collect(df, feats0, target, lit(1.0))
      coeffs = Solvers.ridge(xtx, xty); iterations = 1
      return this
    }
    // Materialize the projected frame ONCE: every IRLS iteration
    // re-scans exactly these d+1 columns. Without the persist each
    // iteration re-reads and re-decodes the source. (At cluster scale:
    // MEMORY_AND_DISK on a narrow projection.) null_policy="skip" on
    // the way in, same contract as Gram.collect.
    val validRow = (features.map(_.cast("double")) :+
        target.cast("double"))
      .map(c => c.isNotNull && !isnan(c)).reduce(_ && _)
    val cached = df.filter(validRow)
      .select(feats0.zipWithIndex.map { case (c, i) =>
      c.cast("double").as(s"__f$i") } :+ target.cast("double").as("__t"): _*)
      .persist() // persist-ok: the finally below unpersists it
    val feats = (0 until d).map(i => col(s"__f$i"))
    val tgt = col("__t")
    var beta = new Array[Double](d)
    // one pass for (count, mean): the count feeds irlsEngine's
    // local-path gate so the engine skips its own counting pass
    val cm = cached.agg(count(lit(1)), avg(tgt)).head
    val mRows = cm.getLong(0)
    val my = cm.getDouble(1)
    // bias init = link(mean): keeps the first step's μ at the target's
    // scale (for gamma, 1/mean — inverse link)
    if (addBias) beta(d - 1) = family match {
      case "binomial" => math.log((my + 1e-12) / (1 - my + 1e-12))
      case "gamma"    => 1.0 / math.max(my, 1e-12)
      case _          => math.log(math.max(my, 1e-12))
    }
    // IRLS inner loop on the shared primitive-RDD engine (see
    // LinRegOps.irlsEngine): w = μ·dμ/dη, z = η + (y − μ)·dη/dμ —
    // the exact per-row math of the previous Column-algebra loop
    val wz: (Double, Double) => (Double, Double) = family match {
      case "poisson" => (eta, y) => {
        val mu = math.exp(eta)
        (mu, eta + (y - mu) / mu)
      }
      case "gamma" => (eta, y) => {
        // canonical inverse link: μ = 1/η, w = 1/(g'(μ)²V(μ)) = μ²,
        // z = η + (y−μ)g'(μ) = η − (y−μ)η²  (glm_solvers.rs:33;
        // link_functions.rs:53,76). η guarded away from 0 for the
        // no-bias cold start.
        val e = if (math.abs(eta) < 1e-12) 1e-12 else eta
        val mu = 1.0 / e
        (mu * mu, e - (y - mu) * e * e)
      }
      case "binomial" => (eta, y) => {
        val mu = 1.0 / (1.0 + math.exp(-eta))
        val w = mu * (1.0 - mu)
        (w, eta + (y - mu) / w)
      }
      case f => throw new IllegalArgumentException(f)
    }
    val data0 = cached.queryExecution.toRdd.map { ir =>
      val arr = new Array[Double](d + 1)
      var i = 0
      while (i <= d) { arr(i) = ir.getDouble(i); i += 1 }
      (0, arr)
    }
    // local path collects the rows exactly once — skip the extra cache
    val data =
      if (graft.ops.LinRegOps.irlsGoesLocal(mRows, d, maxIter)) data0
      else data0.persist() // persist-ok: the finally below unpersists it
    val solve = (xtx: Array[Array[Double]], xty: Array[Double], _: Int) =>
      Solvers.ridge(xtx, xty)
    try {
      val (fit, it) = graft.ops.LinRegOps.irlsEngine(
        data, 1, d, Array(beta), wz, solve, maxIter, tol,
        knownRows = mRows)
      coeffs = fit(0); iterations = it
    } finally { data.unpersist(); cached.unpersist() }
    this
  }

  /** Prediction; `linear = true` returns the linear predictor η
    * instead of E[Y|X] (linear_models.py:904 GLM.predict). */
  def predict(features: Seq[Column], linear: Boolean = false): Column = {
    val eta = Gram.predict(fx(features), coeffs)
    if (linear) eta
    else family match {
      case "poisson"  => exp(eta)
      case "gamma"    => lit(1.0) / eta
      case "binomial" => lit(1.0) / (lit(1.0) + exp(-eta))
      case _          => eta
    }
  }
}
