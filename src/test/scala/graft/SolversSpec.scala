package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.linear.Solvers

/** The one Gram elimination kernel, [[Solvers.gaussJordan]]: the
  * right-hand-side columns are independent of each other, the floor
  * gates singular systems, and the return value is ln|det|. */
class SolversSpec extends AnyFunSuite {

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits)

  private def randomSystem(rng: scala.util.Random, d: Int)
      : Array[Array[Double]] =
    Array.fill(d, d)(rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3))

  private def augment(a: Array[Array[Double]],
                      rhs: Seq[Array[Double]]): Array[Array[Double]] =
    a.indices.map(i => a(i) ++ rhs.map(_(i))).toArray

  private def column(a: Array[Array[Double]], j: Int): Seq[Double] =
    a.indices.map(i => a(i)(j))

  test("several right-hand sides at once give the bits of each alone") {
    val rng = new scala.util.Random(11)
    for (d <- 1 to 8; _ <- 0 until 20) {
      val a = randomSystem(rng, d)
      val rhs = Seq.fill(3)(Array.fill(d)(rng.nextGaussian()))
      val all = augment(a, rhs)
      val lnAll = Solvers.gaussJordan(all, Solvers.NoGate)
      rhs.zipWithIndex.foreach { case (b, k) =>
        val one = augment(a, Seq(b))
        val lnOne = Solvers.gaussJordan(one, Solvers.NoGate)
        assert(bits(column(one, d)) == bits(column(all, d + k)),
          s"d=$d rhs $k")
        assert(bits(Seq(lnOne)) == bits(Seq(lnAll)))
      }
    }
  }

  test("[A | b | I] gives the β of [A | b] and the inverse of A") {
    val rng = new scala.util.Random(12)
    for (d <- 1 to 8; _ <- 0 until 20) {
      val a = randomSystem(rng, d)
      val b = Array.fill(d)(rng.nextGaussian())
      val eye = (0 until d).map(j => Array.tabulate(d)(i =>
        if (i == j) 1.0 else 0.0))
      val withInv = augment(a, b +: eye)
      Solvers.gaussJordan(withInv, Solvers.NoGate)
      val plain = augment(a, Seq(b))
      Solvers.gaussJordan(plain, Solvers.NoGate)
      assert(bits(column(withInv, d)) == bits(column(plain, d)), s"d=$d")
      // and Solvers.solve is that same elimination
      assert(bits(Solvers.solve(a, b).toSeq) == bits(column(plain, d)))
      // A · A⁻¹ = I
      for (i <- 0 until d; j <- 0 until d) {
        val s = (0 until d).map(k => a(i)(k) * withInv(k)(d + 1 + j)).sum
        val scale = (0 until d).map(k =>
          math.abs(a(i)(k) * withInv(k)(d + 1 + j))).sum
        assert(math.abs(s - (if (i == j) 1.0 else 0.0)) <= 1e-9 * scale,
          s"d=$d ($i,$j) $s")
      }
    }
  }

  test("an exact-zero pivot and a collinear Gram under the 1e-12 " +
      "relative floor return NaN") {
    // rank 1: the second pivot is exactly 0
    val rank1 = Array(Array(1.0, 2.0, 1.0), Array(2.0, 4.0, 0.0))
    assert(Solvers.gaussJordan(rank1.map(_.clone), 0.0).isNaN)
    // ungated, the same system divides through: ln|det| = −∞, not NaN
    assert(Solvers.gaussJordan(rank1.map(_.clone), Solvers.NoGate) ==
      Double.NegativeInfinity)
    // x2 = 2·x1 + 1e-13·noise, with a bias column (at 1e-9 noise the
    // bias column keeps every pivot near 1e-9, above the floor)
    val rng = new scala.util.Random(13)
    val rows = Seq.fill(9) {
      val x1 = rng.nextDouble()
      Array(x1, 2.0 * x1 + 1e-13 * rng.nextGaussian(), 1.0)
    }
    val gram = Array.tabulate(3, 4)((i, j) =>
      rows.map(x => x(i) * (if (j < 3) x(j) else 1.0)).sum)
    assert(Solvers.gaussJordan(gram.map(_.clone),
      Solvers.pivotFloor(gram, 1e-12)).isNaN)
    // the floor is what gates it: eliminated ungated it is "solvable"
    assert(!Solvers.gaussJordan(gram.map(_.clone), Solvers.NoGate).isNaN)
    // and a well-conditioned Gram passes the same floor
    val ok = Array(Array(4.0, 1.0, 2.0), Array(1.0, 3.0, 1.0))
    assert(!Solvers.gaussJordan(ok, Solvers.pivotFloor(ok, 1e-12)).isNaN)
  }

  test("ln|det| of a known 3×3, negative pivots included") {
    // det = −9: the elimination meets negative pivots
    val a = Array(Array(0.0, 2.0, 1.0), Array(1.0, 0.0, 0.0),
      Array(3.0, 1.0, 5.0))
    val lnDet = Solvers.gaussJordan(a, Solvers.NoGate)
    assert(math.abs(lnDet - math.log(9.0)) <= 1e-12, s"$lnDet")
    for (i <- 0 until 3; j <- 0 until 3)
      assert(a(i)(j) == (if (i == j) 1.0 else 0.0), s"($i,$j) ${a(i)(j)}")
    val spd = Array(Array(2.0, 1.0, 0.0), Array(1.0, 3.0, 1.0),
      Array(0.0, 1.0, 4.0))
    assert(math.abs(Solvers.gaussJordan(spd, 0.0) - math.log(18.0)) <=
      1e-12)
  }
}
