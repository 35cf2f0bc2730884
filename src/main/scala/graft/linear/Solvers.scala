package graft.linear

/** Gram-matrix solvers (SURVEY §2.9; reference src/linear/lr/
  * lr_solvers.rs — QR/SVD/Cholesky, coordinate descent :434, NNLS :553,
  * rcond SVD :220; algorithms re-derived for the Gram form).
  *
  * Everything here consumes (X'X, X'y, n) — the O(d²) sufficient
  * statistics produced by one distributed aggregate — so solver cost is
  * driver/executor-local and independent of row count. That is the
  * design that makes every linear operator in this package scale: data
  * passes happen exactly once, in Spark; iteration happens on d×d
  * matrices.
  *
  * Every dense solve of those d×d systems runs one kernel,
  * [[gaussJordan]]: Gauss–Jordan elimination with partial pivoting on
  * an augmented matrix, which returns ln|det| and stops at the first
  * pivot at or under a caller-chosen floor. The pivot rule and the
  * singularity gate are decided here, once; the callers and their
  * floors are
  *  - `LinRegAgg.finish`: [A+λI | I], floor singularXTol·max|Aᵢᵢ|
  *    ([[pivotFloor]]), and the returned ln|det| feeds its
  *    relative-determinant gate;
  *  - `LinRegOps.rollingSolve` (rolling/recursive fits and their
  *    streaming twin `StreamOps.streamingRollingLR`): [A+λI | X'y],
  *    floor 1e-12·max|Aᵢᵢ|;
  *  - `LinRegOps.linRegMultiTarget` ([A | X'Y]) and `hcReport`
  *    ([A | X'y | I], β and A⁻¹ from one elimination): floor 1e-300;
  *  - [[solve]] (so [[ridge]], [[nnls]], `Pipeline.linearImputeMulti`,
  *    `linear.Models` and the IRLS solves in `LinRegOps`): ungated,
  *    floor [[NoGate]].
  * Out of it by design: `LinRegAggF32` (single-precision arithmetic is
  * its contract) and `SeqOps`' banded LU without pivoting.
  * `SolverLintSpec` keeps pivot searches out of every other source.
  */
object Solvers {

  /** Floor for [[gaussJordan]] that no pivot is at or under: eliminate
    * whatever the matrix holds (a zero pivot divides into Inf/NaN). */
  val NoGate: Double = Double.NegativeInfinity

  /** Gauss–Jordan elimination with partial pivoting, in place. `a`
    * holds d = `a.length` rows of an augmented matrix [A | R] whose
    * left d×d block A is reduced to the identity, so each column right
    * of d ends up as A⁻¹R: R = b gives x, R = I gives A⁻¹, and several
    * right-hand sides are solved at once with the bits each would get
    * alone (every column sees the same row operations). Column c
    * pivots on the first row r ≥ c with the largest |a(r)(c)|.
    *
    * Returns ln|det A| = Σ ln|pivot|, or NaN as soon as a pivot has
    * |p| ≤ `singular` (`a` is then left part-eliminated). A NaN pivot
    * (a non-finite Gram) is never gated and makes the sum NaN. */
  def gaussJordan(a: Array[Array[Double]], singular: Double): Double = {
    val d = a.length
    var lnDet = 0.0
    var c = 0
    while (c < d) {
      var piv = c
      var r = c + 1
      while (r < d) {
        if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
        r += 1
      }
      if (math.abs(a(piv)(c)) <= singular) return Double.NaN
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t }
      val row = a(c)
      val pv = row(c)
      lnDet += math.log(math.abs(pv))
      val w = row.length
      var j = c
      while (j < w) { row(j) /= pv; j += 1 }
      r = 0
      while (r < d) {
        val f = a(r)(c)
        if (r != c && f != 0.0) {
          val ar = a(r)
          j = c
          while (j < w) { ar(j) -= f * row(j); j += 1 }
        }
        r += 1
      }
      c += 1
    }
    lnDet
  }

  /** The relative singularity floor `tol`·max|Aᵢᵢ| over the left d×d
    * block of `a` (reference singular_x_tol, lr_solvers.rs): a pivot
    * vanishing relative to the Gram's scale means rank deficiency,
    * and float noise would otherwise divide into huge coefficients. */
  def pivotFloor(a: Array[Array[Double]], tol: Double): Double = {
    var maxDiag = 0.0
    var i = 0
    while (i < a.length) {
      maxDiag = math.max(maxDiag, math.abs(a(i)(i))); i += 1
    }
    tol * maxDiag
  }

  /** Solve A x = b, ungated ([[gaussJordan]] on a copy of [A | b]). */
  def solve(aIn: Array[Array[Double]], bIn: Array[Double]): Array[Double] = {
    val d = bIn.length
    val a = Array.tabulate(d)(i => aIn(i) :+ bIn(i))
    gaussJordan(a, NoGate)
    Array.tabulate(d)(i => a(i)(d))
  }

  /** OLS/ridge: (X'X + λI)β = X'y. */
  def ridge(xtx: Array[Array[Double]], xty: Array[Double],
            lambda: Double = 0.0): Array[Double] = {
    val d = xty.length
    val a = Array.tabulate(d, d)((i, j) =>
      xtx(i)(j) + (if (i == j) lambda else 0.0))
    solve(a, xty)
  }

  /** Elastic net via cyclic coordinate descent on the Gram matrix
    * (covariance updates — no data pass per iteration). Objective:
    * ½‖y−Xβ‖² + l1‖β‖₁ + ½·l2‖β‖²; soft-threshold update
    * β_j = S(X'y_j − Σ_{k≠j} G_jk β_k, l1) / (G_jj + l2).
    * `penalize(j)=false` exempts a coordinate (e.g. the bias). */
  def elasticNet(xtx: Array[Array[Double]], xty: Array[Double],
                 l1: Double, l2: Double,
                 penalize: Int => Boolean = _ => true,
                 maxIter: Int = 2000, tol: Double = 1e-12)
      : Array[Double] = {
    val d = xty.length
    val beta = new Array[Double](d)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta > tol) {
      delta = 0.0
      var j = 0
      while (j < d) {
        var r = xty(j)
        var k = 0
        while (k < d) { if (k != j) r -= xtx(j)(k) * beta(k); k += 1 }
        val nb =
          if (!penalize(j)) r / xtx(j)(j)
          else {
            val s = math.signum(r) * math.max(math.abs(r) - l1, 0.0)
            s / (xtx(j)(j) + l2)
          }
        delta = math.max(delta, math.abs(nb - beta(j)))
        beta(j) = nb
        j += 1
      }
      it += 1
    }
    beta
  }

  /** Non-negative least squares (Lawson–Hanson active set on the Gram
    * matrix; reference faer_nn_lr lr_solvers.rs:553). */
  def nnls(xtx: Array[Array[Double]], xty: Array[Double],
           maxIter: Int = 200): Array[Double] = {
    val d = xty.length
    val passive = Array.fill(d)(false)
    val beta = new Array[Double](d)
    var it = 0
    while (it < maxIter) {
      // gradient of ½‖y−Xβ‖²: w = X'y − X'Xβ
      val w = Array.tabulate(d)(j =>
        xty(j) - (0 until d).map(k => xtx(j)(k) * beta(k)).sum)
      val cand = (0 until d).filter(j => !passive(j) && w(j) > 1e-12)
      if (cand.isEmpty) return beta
      passive(cand.maxBy(w)) = true
      var inner = true
      while (inner) {
        val idx = (0 until d).filter(passive)
        val a = Array.tabulate(idx.length, idx.length)((i, j) =>
          xtx(idx(i))(idx(j)))
        val b = idx.map(xty).toArray
        val sol = solve(a, b)
        if (sol.forall(_ > 0)) {
          java.util.Arrays.fill(beta, 0.0)
          idx.zip(sol).foreach { case (j, v) => beta(j) = v }
          inner = false
        } else {
          // step toward sol until the first coordinate hits zero
          val alphas = idx.zip(sol).collect {
            case (j, v) if v <= 0 => beta(j) / (beta(j) - v)
          }
          val alpha = alphas.min
          idx.zip(sol).foreach { case (j, v) =>
            beta(j) += alpha * (v - beta(j))
            if (beta(j) <= 1e-12) { beta(j) = 0.0; passive(j) = false }
          }
        }
      }
      it += 1
    }
    beta
  }

  /** SVD solve with relative rcond cutoff on the singular values of X
    * (= √eigenvalues of X'X): the minimum-norm least-squares solution
    * with small directions zeroed. Returns (β, singularValuesOfX).
    * (reference pl_lr_w_rcond linear_regression.rs:644) */
  def svdRcond(xtx: Array[Array[Double]], xty: Array[Double],
               rcond: Double): (Array[Double], Array[Double]) = {
    val d = xty.length
    val m = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => xtx(i)(j))
    val es = breeze.linalg.eigSym(m)
    val lam = es.eigenvalues // ascending
    val v = es.eigenvectors
    val svX = lam.toArray.map(l => math.sqrt(math.max(l, 0.0)))
    val cut = rcond * svX.max
    val beta = new Array[Double](d)
    for (i <- 0 until d if svX(i) > cut) {
      // projection of X'y on eigenvector i, scaled by 1/λ
      var p = 0.0
      for (j <- 0 until d) p += v(j, i) * xty(j)
      val s = p / lam(i)
      for (j <- 0 until d) beta(j) += s * v(j, i)
    }
    (beta, svX.sorted(Ordering[Double].reverse))
  }
}
