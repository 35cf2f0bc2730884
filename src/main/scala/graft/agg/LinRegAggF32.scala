package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

import org.apache.commons.math3.distribution.TDistribution

/** Input row for the single-precision Gram aggregate. The cast to
  * float happens in the Column layer (before the aggregator sees the
  * row), so a FloatType feature column is never upcast to double on
  * its way in — the reference makes the caller do the same manual
  * cast (linear_regression_f32.rs:4-8). */
case class LRInF(x: Seq[Float], y: Float, w: Float)

/** Single-precision twin of [[LinRegAgg]] (reference
  * linear_regression_f32.rs:1 — "A copy of linear_regression, but
  * with f32" — toggled per-call via config.py:1 LIN_REG_EXPR_F64; here
  * via the `graft.linRegF32` session conf or an explicit
  * [[LinRegAgg.linRegF32]] call).
  *
  * Everything numeric is `Float`: the O(d²) Gram state, the per-row
  * products (each rounds to f32), and the Gauss-Jordan solve. Naive
  * sequential f32 summation would lose ~n·ε₃₂ digits — by 6M rows the
  * running Σwy² is 2²² times its increments and the fit visibly
  * drifts (measured: the sf1 contract band broke). The reference
  * never sums sequentially either: faer's blocked SIMD matmul spreads
  * the sum over many accumulators. The distributed-aggregation
  * analogue is Kahan compensation — each f32 cell carries an f32
  * carry slot, keeping the summation error O(ε₃₂) independent of n
  * while ALL state stays single-precision. (The carry slots double
  * the buffer back to f64-buffer size, but the buffer is O(d²); the
  * scale win of this kernel is input-side — FloatType columns are
  * never upcast on their way in.)
  *
  * Output stays [[LinRegResult]] (doubles) for schema stability
  * across the toggle — the values are f32-precision upcast, where the
  * reference returns a Float32 series. Documented divergence. */
class LinRegAggF32(d: Int, lambda: Float,
                   singularXTol: Double = 1e-12)
    extends Aggregator[LRInF, Array[Float], LinRegResult] {

  private val szXtX = d * d
  // layout mirrors LinRegAgg: [XtX | Xty | sumW, sumWy, sumWy2,
  // count], then one Kahan carry per cell in the upper half.
  private val bufLen = szXtX + d + 4

  def zero: Array[Float] = new Array[Float](2 * bufLen)

  /** Kahan-compensated b(i) += v, carry at b(bufLen + i). */
  @inline private def kadd(b: Array[Float], i: Int, v: Float): Unit = {
    val y = v - b(bufLen + i)
    val t = b(i) + y
    b(bufLen + i) = (t - b(i)) - y
    b(i) = t
  }

  def reduce(b: Array[Float], in: LRInF): Array[Float] = {
    if (in.x == null || in.x.length != d ||
        !java.lang.Float.isFinite(in.y)) return b
    // encoder materializes Seq[Float] as List (O(i) apply) — copy once;
    // a NaN/±Inf feature skips the row like a non-finite target does
    val x = new Array[Float](d)
    val xs = in.x.iterator
    var i = 0
    while (i < d) {
      x(i) = xs.next()
      if (!java.lang.Float.isFinite(x(i))) return b
      i += 1
    }
    val w = in.w
    i = 0
    while (i < d) {
      val wxi = w * x(i)
      var j = 0
      while (j < d) { kadd(b, i * d + j, wxi * x(j)); j += 1 }
      kadd(b, szXtX + i, wxi * in.y)
      i += 1
    }
    kadd(b, szXtX + d, w)
    kadd(b, szXtX + d + 1, w * in.y)
    kadd(b, szXtX + d + 2, w * in.y * in.y)
    kadd(b, szXtX + d + 3, 1.0f)
    b
  }

  def merge(a: Array[Float], b: Array[Float]): Array[Float] = {
    // fold b's sums and its carries through a's compensated adds
    var i = 0
    while (i < bufLen) {
      kadd(a, i, b(i))
      kadd(a, i, -b(bufLen + i))
      i += 1
    }
    a
  }

  def finish(b: Array[Float]): LinRegResult = {
    val n = b(szXtX + d + 3).toDouble
    if (n < d) return LinRegResult(Nil, Nil, Nil, Nil,
      Double.NaN, Double.NaN, n.toLong)
    val a = Array.ofDim[Float](d, 2 * d)
    var i = 0
    var maxDiag = 0.0f
    var lnDen = 0.0
    while (i < d) {
      var j = 0
      while (j < d) { a(i)(j) = b(i * d + j); j += 1 }
      a(i)(i) += lambda
      a(i)(d + i) = 1.0f
      maxDiag = math.max(maxDiag, math.abs(a(i)(i)))
      if (singularXTol > 0.0) {
        if (a(i)(i) <= 0.0f) return LinRegResult(Nil, Nil, Nil, Nil,
          Double.NaN, Double.NaN, n.toLong)
        lnDen += math.log(a(i)(i))
      }
      i += 1
    }
    // Gauss-Jordan with partial pivoting, all intermediates f32;
    // |det| accumulates in (double) log space off the f32 pivots —
    // same relative-determinant rank gate as the f64 kernel.
    var lnDet = 0.0
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      if (math.abs(a(piv)(col)) <= singularXTol * maxDiag)
        return LinRegResult(Nil, Nil, Nil, Nil, Double.NaN, Double.NaN,
          n.toLong)
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t }
      val pv = a(col)(col)
      lnDet += math.log(math.abs(pv))
      var j = 0
      while (j < 2 * d) { a(col)(j) /= pv; j += 1 }
      r = 0
      while (r < d) {
        if (r != col && a(r)(col) != 0.0f) {
          val f = a(r)(col)
          var j2 = 0
          while (j2 < 2 * d) { a(r)(j2) -= f * a(col)(j2); j2 += 1 }
        }
        r += 1
      }
      col += 1
    }
    if (singularXTol > 0.0 && lnDet - lnDen <= math.log(singularXTol))
      return LinRegResult(Nil, Nil, Nil, Nil, Double.NaN, Double.NaN,
        n.toLong)
    val beta = Array.tabulate(d) { i2 =>
      var s = 0.0f
      var j2 = 0
      while (j2 < d) { s += a(i2)(d + j2) * b(szXtX + j2); j2 += 1 }
      s
    }
    val swy2 = b(szXtX + d + 2)
    var btXty = 0.0f
    var btAb = 0.0f
    i = 0
    while (i < d) {
      btXty += beta(i) * b(szXtX + i)
      var j = 0
      while (j < d) { btAb += beta(i) * b(i * d + j) * beta(j); j += 1 }
      i += 1
    }
    val ssRes = swy2 - 2.0f * btXty + btAb
    val sw = b(szXtX + d)
    val swy = b(szXtX + d + 1)
    val ssTot = swy2 - swy * swy / sw
    val r2 = 1.0f - ssRes / ssTot
    val adjR2 = (1.0 - (1.0 - r2) * (n - 1.0) / (n - d))
    val sigma2 = ssRes / (n - d).toFloat
    val se = Array.tabulate(d)(i2 =>
      math.sqrt((sigma2 * a(i2)(d + i2)).toDouble))
    val tv = Array.tabulate(d)(i2 => beta(i2) / se(i2))
    val td = new TDistribution(null, math.max(n - d, 1.0))
    val pv2 = tv.map(t => 2.0 * td.cumulativeProbability(-math.abs(t)))
    LinRegResult(beta.map(_.toDouble).toSeq, se.toSeq, tv.toSeq,
      pv2.toSeq, r2.toDouble, adjR2, n.toLong)
  }

  def bufferEncoder: Encoder[Array[Float]] =
    LinRegAggF32.floatArray
  def outputEncoder: Encoder[LinRegResult] =
    Encoders.product[LinRegResult]
}

object LinRegAggF32 {
  private[agg] val floatArray: Encoder[Array[Float]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()

  /** f32 lin_reg as an aggregate Column — the `pl_lr_f32` symbol
    * family (linear_regression_f32.rs:287). Same solver-name contract
    * as [[LinRegAgg.linReg]]. */
  def linRegF32(features: Column, y: Column, d: Int,
                lambda: Double = 0.0,
                weight: Column = functions.lit(1.0),
                solver: String = "qr",
                singularXTol: Double = 1e-12): Column = {
    require(Set("qr", "svd", "cholesky", "choleskey")(solver),
      s"lin_reg_f32: solver '$solver' (want qr | svd | cholesky)")
    val f = functions.udaf(
      new LinRegAggF32(d, lambda.toFloat, singularXTol),
      Encoders.product[LRInF])
    f(features.cast("array<float>"), y.cast("float"),
      weight.cast("float"))
  }
}
