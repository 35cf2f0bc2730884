package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

import org.apache.commons.math3.distribution.TDistribution

import graft.linear.Solvers

/** Input row for the Gram aggregate: feature vector (bias already
  * appended by the caller if wanted), target, weight. */
case class LRIn(x: Seq[Double], y: Double, w: Double)

/** Full OLS/WLS/ridge result (statsmodels-style report fields;
  * reference lin_reg_report at src/num_ext/linear_regression.rs:815). */
case class LinRegResult(coeffs: Seq[Double], stdErr: Seq[Double],
                        tVals: Seq[Double], pVals: Seq[Double],
                        r2: Double, adjR2: Double, n: Long)

/** Distributed linear regression as a Gram-matrix Aggregator
  * (SURVEY §2.9 design: the canonical Spark-native re-expression of the
  * reference's faer QR solve, lr_solvers.rs:307).
  *
  * The buffer is a FIXED-SIZE array: X'WX (d²) + X'Wy (d) + [Σw, Σwy,
  * Σwy², count] — O(d²) per partial state regardless of row count, so
  * partial aggregation, map-side combine and shuffle all stay cheap at
  * any scale. merge = elementwise add (associative & commutative — the
  * property the reference never had to prove single-node).
  *
  * finish() inverts X'WX + λI with [[graft.linear.Solvers.gaussJordan]]
  * (the one Gram elimination kernel; see its object doc for the
  * floors), takes β = (X'WX + λI)⁻¹X'Wy and derives the report
  * statistics from the same Gram matrix: var(β̂) = σ²(X'WX)⁻¹,
  * σ² = SSR/(n−d).
  */
class LinRegAgg(d: Int, lambda: Double,
                singularXTol: Double = 1e-12)
    extends Aggregator[LRIn, Array[Double], LinRegResult] {

  private val szXtX = d * d
  // layout: [XtX | Xty | sumW, sumWy, sumWy2, count]
  private val bufLen = szXtX + d + 4

  def zero: Array[Double] = new Array[Double](bufLen)

  def reduce(b: Array[Double], in: LRIn): Array[Double] = {
    if (in.x == null || in.x.length != d ||
        !java.lang.Double.isFinite(in.y)) return b
    // the encoder materializes Seq[Double] as List (O(i) apply) — copy
    // to a primitive array once so the d² loop stays O(d²); a NaN/±Inf
    // feature skips the row like a non-finite target does, instead of
    // poisoning the group's whole Gram
    val x = new Array[Double](d)
    val xs = in.x.iterator
    var i = 0
    while (i < d) {
      x(i) = xs.next()
      if (!java.lang.Double.isFinite(x(i))) return b
      i += 1
    }
    val w = in.w
    i = 0
    while (i < d) {
      val wxi = w * x(i)
      var j = 0
      while (j < d) { b(i * d + j) += wxi * x(j); j += 1 }
      b(szXtX + i) += wxi * in.y
      i += 1
    }
    b(szXtX + d) += w
    b(szXtX + d + 1) += w * in.y
    b(szXtX + d + 2) += w * in.y * in.y
    b(szXtX + d + 3) += 1.0
    b
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { a(i) += b(i); i += 1 }
    a
  }

  def finish(b: Array[Double]): LinRegResult = {
    val n = b(szXtX + d + 3)
    if (n < d) return LinRegResult(Nil, Nil, Nil, Nil,
      Double.NaN, Double.NaN, n.toLong)
    // aug = [XtX + λI | I]: the elimination leaves A⁻¹ on the right
    val a = Array.ofDim[Double](d, 2 * d)
    var i = 0
    // Σ ln(diag) for the reference's scale-invariant rank gate; a
    // non-positive diagonal is a zero-variance column → always gated
    // (lr_solvers.rs:347 faer_solve_lr_gated)
    var lnDen = 0.0
    while (i < d) {
      var j = 0
      while (j < d) { a(i)(j) = b(i * d + j); j += 1 }
      a(i)(i) += lambda
      a(i)(d + i) = 1.0
      if (singularXTol > 0.0) {
        if (a(i)(i) <= 0.0) return LinRegResult(Nil, Nil, Nil, Nil,
          Double.NaN, Double.NaN, n.toLong)
        lnDen += math.log(a(i)(i))
      }
      i += 1
    }
    // Singular-design gate (reference singular_x_tol, default 1e-12,
    // lr_solvers.rs): a pivot at or under singularXTol·max|Aᵢᵢ| means
    // rank deficiency, and the result is degenerate, like the
    // exact-zero case (singularXTol = 0 gates only that one). The
    // elimination IS our factorization, so |det(A)| = Π |pivots| comes
    // back free, exactly as the reference reads it off the QR R / SVD
    // S / Cholesky L diagonals (lr_solvers.rs:358).
    val lnDet = Solvers.gaussJordan(a, Solvers.pivotFloor(a, singularXTol))
    // Relative-determinant gate (expr_linear.py:166 singular_x_tol):
    // ln|det(X'X+λI)| − Σ ln(diag) ≤ ln(tol) ⇒ rank-deficient design →
    // degenerate result, not explosive coefficients. Scale-invariant
    // (Hadamard: rel_det ≤ 1 for PSD) and overflow-safe in log space.
    // tol = 0 disables, matching the reference.
    if (lnDet.isNaN ||
      singularXTol > 0.0 && lnDet - lnDen <= math.log(singularXTol))
      return LinRegResult(Nil, Nil, Nil, Nil, Double.NaN, Double.NaN,
        n.toLong)
    val inv = Array.tabulate(d, d)((i2, j2) => a(i2)(d + j2))
    val beta = Array.tabulate(d) { i2 =>
      var s = 0.0
      var j2 = 0
      while (j2 < d) { s += inv(i2)(j2) * b(szXtX + j2); j2 += 1 }
      s
    }
    // SSR = Σwy² − 2β'X'Wy + β'(X'WX)β  (exact even with ridge)
    val swy2 = b(szXtX + d + 2)
    var btXty = 0.0
    var btAb = 0.0
    i = 0
    while (i < d) {
      btXty += beta(i) * b(szXtX + i)
      var j = 0
      while (j < d) { btAb += beta(i) * b(i * d + j) * beta(j); j += 1 }
      i += 1
    }
    val ssRes = swy2 - 2.0 * btXty + btAb
    val sw = b(szXtX + d)
    val swy = b(szXtX + d + 1)
    val ssTot = swy2 - swy * swy / sw
    val r2 = 1.0 - ssRes / ssTot
    val adjR2 = 1.0 - (1.0 - r2) * (n - 1.0) / (n - d)
    val sigma2 = ssRes / (n - d)
    val se = Array.tabulate(d)(i2 => math.sqrt(sigma2 * inv(i2)(i2)))
    val tv = Array.tabulate(d)(i2 => beta(i2) / se(i2))
    val td = new TDistribution(null, math.max(n - d, 1.0))
    val pv2 = tv.map(t => 2.0 * td.cumulativeProbability(-math.abs(t)))
    LinRegResult(beta.toSeq, se.toSeq, tv.toSeq, pv2.toSeq, r2, adjR2,
      n.toLong)
  }

  def bufferEncoder: Encoder[Array[Double]] =
    ExpressionEncoders.doubleArray
  def outputEncoder: Encoder[LinRegResult] = Encoders.product[LinRegResult]
}

private object ExpressionEncoders {
  val doubleArray: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}

object LinRegAgg {
  /** lin_reg as an aggregate Column: features array (append 1.0 yourself
    * for a bias term), target, optional weight column.
    *
    * `solver` accepts the reference's names — "qr" | "svd" |
    * "cholesky"/"choleskey" (expr_linear.py:114) — for API parity. All
    * three route to the same Gram-elimination kernel here: the solvers
    * differ only in which factorization yields det(X'X) for the
    * singular_x_tol gate, and the reference's own test asserts they are
    * observably equivalent (test_linear_exprs.py:1325
    * test_singular_x_tol_per_solver). Our elimination pivots supply the
    * same determinant, so one kernel covers all three contracts.
    * `singularXTol` is the rank gate (0 disables).
    *
    * Precision toggle: when the session conf `graft.linRegF32` is
    * `true`, dispatches to the single-precision twin
    * [[LinRegAggF32.linRegF32]] — the reference's module-level
    * LIN_REG_EXPR_F64 switch (config.py:1, `_which_lin_reg` at
    * config.py:15) re-expressed as a Spark conf, resolved at
    * plan-build time like the reference resolves its symbol name at
    * expression-build time. */
  def linReg(features: Column, y: Column, d: Int, lambda: Double = 0.0,
             weight: Column = functions.lit(1.0),
             solver: String = "qr",
             singularXTol: Double = 1e-12): Column = {
    require(Set("qr", "svd", "cholesky", "choleskey")(solver),
      s"lin_reg: solver '$solver' (want qr | svd | cholesky)")
    val f32 = org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.conf.get("graft.linRegF32", "false").toBoolean)
    if (f32)
      LinRegAggF32.linRegF32(features, y, d, lambda, weight, solver,
        singularXTol)
    else {
      val f = functions.udaf(new LinRegAgg(d, lambda, singularXTol),
        Encoders.product[LRIn])
      f(features, y.cast("double"), weight.cast("double"))
    }
  }
}
