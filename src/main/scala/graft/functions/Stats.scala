package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Statistical aggregates as pure `Column` algebra (SURVEY §2.5;
  * reference python/polars_ds/exprs/stats.py). Everything here is a
  * composition of built-in aggregates → partial+final hash aggregation,
  * no buffering, safe at any group size.
  *
  * P-values that need special functions (incomplete beta/gamma) are in
  * [[PValues]] as scalar functions applied to the (tiny) aggregated
  * output — they never run over row-scale data.
  *
  * A closed-form finish that reuses an intermediate goes in ONE scalar
  * function over the aggregates, never in a Column tree. A Column val
  * is a tree, not a variable: each mention copies it, so a finish that
  * reuses intermediates grows exponentially when inlined. The former
  * Column-algebra [[normalTest]] generated 1.2 MB of Java for its
  * final aggregate stage; Janino rejected it on every run ("Code grows
  * beyond 64 KB") and Spark fell back to interpreting the tree. As one
  * scalar function over five aggregates, that stage is 28 KB of Java
  * and compiles (CodegenGuardSpec compiles it on every test run).
  */
object Stats {

  // ---- weighted moments & similarity (stats.py:756-977) ----

  /** Σwx / Σw */
  def weightedMean(x: Column, w: Column): Column = sum(w * x) / sum(w)

  /** Weighted variance. Default is the reference's biased convention
    * (/Σw); `freqWeights=true` treats w as unnormalized frequency
    * weights and divides by Σw − 1 (stats.py:852 weighted_var).
    * Algebraic: (Σwx² − (Σwx)²/Σw) / denom */
  def weightedVar(x: Column, w: Column,
                  freqWeights: Boolean = false): Column = {
    val summand = sum(w * x * x) - sum(w * x) * sum(w * x) / sum(w)
    if (freqWeights) summand / (sum(w) - 1.0) else summand / sum(w)
  }

  /** Weighted covariance (population convention). */
  def weightedCov(x: Column, y: Column, w: Column): Column =
    (sum(w * x * y) - sum(w * x) * sum(w * y) / sum(w)) / sum(w)

  /** Weighted Pearson correlation. */
  def weightedCorr(x: Column, y: Column, w: Column): Column =
    weightedCov(x, y, w) / sqrt(weightedVar(x, w) * weightedVar(y, w))

  /** Column-as-vector cosine similarity. (stats.py:842) */
  def cosineSim(x: Column, y: Column): Column =
    sum(x * y) / sqrt(sum(x * x) * sum(y * y))

  /** Weighted cosine similarity. */
  def weightedCosineSim(x: Column, y: Column, w: Column): Column =
    sum(w * x * y) / sqrt(sum(w * x * x) * sum(w * y * y))

  /** Harmonic mean: n / Σ(1/x); weighted: Σw / Σ(w/x). */
  def hmean(x: Column): Column = count(x).cast("double") / sum(lit(1.0) / x)
  def weightedHmean(x: Column, w: Column): Column = sum(w) / sum(w / x)

  /** Geometric mean: exp(mean(ln x)); weighted: exp(Σw·lnx / Σw). */
  def gmean(x: Column): Column = exp(avg(log(x)))
  def weightedGmean(x: Column, w: Column): Column =
    exp(sum(w * log(x)) / sum(w))

  // ---- t-test family (stats.py:58-230; src/stats/t_test.rs) ----
  // Return struct{statistic, df}; add the p-value with PValues.tSf on the
  // aggregated result.

  /** Two-sample Student t (equal variances) between two columns of the
    * same frame; nulls excluded per-column (count/avg/var ignore nulls). */
  def tTestInd(a: Column, b: Column): Column = {
    val (n1, n2) = (count(a).cast("double"), count(b).cast("double"))
    val (m1, m2) = (avg(a), avg(b))
    val (v1, v2) = (var_samp(a), var_samp(b))
    val df = n1 + n2 - 2.0
    val sp2 = ((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / df
    val t = (m1 - m2) / sqrt(sp2 * (lit(1.0) / n1 + lit(1.0) / n2))
    struct(t.as("statistic"), df.as("df"))
  }

  /** Welch two-sample t (unequal variances), Welch–Satterthwaite df. */
  def tTestWelch(a: Column, b: Column): Column = {
    val (n1, n2) = (count(a).cast("double"), count(b).cast("double"))
    val (v1, v2) = (var_samp(a), var_samp(b))
    val (se1, se2) = (v1 / n1, v2 / n2)
    val t = (avg(a) - avg(b)) / sqrt(se1 + se2)
    val df = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0))
    struct(t.as("statistic"), df.as("df"))
  }

  /** Two-sample t from PRECOMPUTED stats (stats.py:170
    * ttest_ind_from_stats): the same algebra as [[tTestInd]] /
    * [[tTestWelch]], but over caller-supplied mean/std/count columns —
    * scalar math, usable on already-aggregated rows. */
  def tTestIndFromStats(m1: Column, s1: Column, n1: Column,
                        m2: Column, s2: Column, n2: Column,
                        equalVar: Boolean = true): Column =
    if (equalVar) {
      val df = n1 + n2 - 2.0
      val sp2 = ((n1 - 1.0) * s1 * s1 + (n2 - 1.0) * s2 * s2) / df
      val t = (m1 - m2) / sqrt(sp2 * (lit(1.0) / n1 + lit(1.0) / n2))
      struct(t.as("statistic"), df.as("df"))
    } else {
      val (se1, se2) = (s1 * s1 / n1, s2 * s2 / n2)
      val t = (m1 - m2) / sqrt(se1 + se2)
      val df = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0))
      struct(t.as("statistic"), df.as("df"))
    }

  /** One-sample t vs population mean mu0. */
  def tTest1Samp(x: Column, mu0: Double): Column = {
    val n = count(x).cast("double")
    val t = (avg(x) - mu0) / sqrt(var_samp(x) / n)
    struct(t.as("statistic"), (n - 1.0).as("df"))
  }

  // ---- normality (src/stats/normal_test.rs) ----

  /** D'Agostino–Pearson K² omnibus normality test:
    * struct{statistic, pvalue}. p = exp(-K²/2) is the exact χ²(2)
    * survival function, so even the p-value is closed-form.
    * (scipy.stats.normaltest formulas; reference src/stats/normal_test.rs)
    *
    * The aggregate is count(x) and the means of x, x², x³ and x⁴ (x cast
    * to double); [[normalTestFinish]] computes K² and p from those five
    * values. An empty or constant group, or n ∈ {2, 3}, gives
    * struct(null, null). */
  def normalTest(x: Column): Column = {
    val xd = x.cast("double")
    normalTestFinish(count(xd).cast("double"), avg(xd), avg(xd * xd),
      avg(xd * xd * xd), avg(xd * xd * xd * xd))
  }

  /** Result row of [[normalTest]]. */
  final case class NormalTest(statistic: java.lang.Double,
                              pvalue: java.lang.Double)

  private val normalTestFinish = udf {
    (n: Double, m: java.lang.Double, s2: java.lang.Double,
     s3: java.lang.Double, s4: java.lang.Double) =>
      val k2 = if (m == null) None else normalTestK2(n, m, s2, s3, s4)
      k2.fold(NormalTest(null, null))(k =>
        NormalTest(k, StrictMath.exp(k * -0.5)))
  }

  private object NullResult extends scala.util.control.ControlThrowable

  /** K² from n and the raw moments (means of x, x², x³, x⁴), or None.
    * The operation order and the math functions (StrictMath log/pow,
    * Math sqrt/signum) are those Spark evaluates for the same Column
    * algebra, and so are its non-ANSI null rules: `a / 0` and
    * `log(x ≤ 0)` are null, and a null anywhere makes K² null. */
  private def normalTestK2(n: Double, m: Double, s2: Double,
                           s3: Double, s4: Double): Option[Double] = {
    def div(a: Double, b: Double): Double =
      if (b == 0.0) throw NullResult else a / b
    def ln(v: Double): Double =
      if (v <= 0.0) throw NullResult else StrictMath.log(v)
    try {
      val m2 = s2 - m * m
      val m3 = s3 - m * s2 * 3.0 + m * m * m * 2.0
      val m4 = s4 - m * s3 * 4.0 + m * m * s2 * 6.0 - m * m * m * m * 3.0
      val g1 = div(m3, StrictMath.pow(m2, 1.5))
      val b2 = div(m4, m2 * m2)
      // skewtest (D'Agostino 1970)
      val y = g1 * math.sqrt(div((n + 1.0) * (n + 3.0), (n - 2.0) * 6.0))
      val beta2 = div((n * n + n * 27.0 - 70.0) * (n + 1.0) * (n + 3.0) * 3.0,
        (n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
      val w2 = math.sqrt((beta2 - 1.0) * 2.0) - 1.0
      val delta = div(1.0, math.sqrt(ln(math.sqrt(w2))))
      val alpha = math.sqrt(div(2.0, w2 - 1.0))
      val ya = div(y, alpha)
      val z1 = delta * ln(ya + math.sqrt(ya * ya + 1.0))
      // kurtosistest (Anscombe & Glynn 1983)
      val eb2 = div((n - 1.0) * 3.0, n + 1.0)
      val vb2 = div(n * (n - 2.0) * (n - 3.0) * 24.0,
        (n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
      val xk = div(b2 - eb2, math.sqrt(vb2))
      val sqrtBeta1 = div((n * n - n * 5.0 + 2.0) * 6.0,
        (n + 7.0) * (n + 9.0)) *
        math.sqrt(div((n + 3.0) * (n + 5.0) * 6.0,
          n * (n - 2.0) * (n - 3.0)))
      val a = div(8.0, sqrtBeta1) * (div(2.0, sqrtBeta1) +
        math.sqrt(div(4.0, sqrtBeta1 * sqrtBeta1) + 1.0)) + 6.0
      val inner = div(1.0 - div(2.0, a),
        xk * math.sqrt(div(2.0, a - 4.0)) + 1.0)
      val cbrt = math.signum(inner) *
        StrictMath.pow(math.abs(inner), 1.0 / 3.0)
      val z2 = div((1.0 - div(2.0, a * 9.0)) - cbrt,
        math.sqrt(div(2.0, a * 9.0)))
      Some(z1 * z1 + z2 * z2)
    } catch { case NullResult => None }
  }
}
