package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.LinRegAgg
import graft.ops.LinRegOps

/** Goldens generated with an independent numpy implementation (lstsq /
  * explicit normal equations / IRLS) on the deterministic dataset
  * x1 = i%10, x2 = (7i)%13, noise = ((37i)%11 − 5)/10,
  * y = 2 + 0.5·x1 − 0.3·x2 + noise, i = 0..99. */
class LinRegSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def data = {
    import spark.implicits._
    (0 until 100).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 7) % 13).toDouble
      val noise = (((i * 37) % 11) - 5) / 10.0
      (x1, x2, 2 + 0.5 * x1 - 0.3 * x2 + noise,
        if (x1 - x2 + noise * 3 > 0) 1.0 else 0.0)
    }.toDF("x1", "x2", "y", "yl")
  }

  private def approx(a: Double, b: Double, tol: Double = 1e-9) = {
    val ok = math.abs(a - b) <= tol
    if (!ok) info(s"got $a want $b")
    ok
  }

  test("Gram-aggregate OLS matches numpy lstsq incl. report stats") {
    val res = data.agg(LinRegAgg.linReg(
      array(col("x1"), col("x2"), lit(1.0)), col("y"), 3).as("r"))
      .select("r.*").collect()(0)
    val beta = res.getSeq[Double](0)
    val se = res.getSeq[Double](1)
    val t = res.getSeq[Double](2)
    val p = res.getSeq[Double](3)
    assert(approx(beta(0), 0.4980939221463737, 1e-9))
    assert(approx(beta(1), -0.30184489930376707, 1e-9))
    assert(approx(beta(2), 2.014462256233547, 1e-9))
    assert(approx(se(0), 0.01126492398950086, 1e-9))
    assert(approx(se(1), 0.00866921316258305, 1e-9))
    assert(approx(t(0), 44.21635890402878, 1e-6))
    assert(approx(p(0), 4.3119417171779384e-66, 1e-70))
    assert(approx(res.getDouble(4), 0.9691910212061817, 1e-12))
    assert(approx(res.getDouble(5), 0.9685557845300206, 1e-12))
  }

  test("ridge (λ=1, no bias) matches numpy normal equations") {
    val res = data.agg(LinRegAgg.linReg(
      array(col("x1"), col("x2")), col("y"), 2, lambda = 1.0).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(approx(res(0), 0.6808177162958184, 1e-10))
    assert(approx(res(1), -0.15906982171278403, 1e-10))
  }

  test("Gram aggregates skip a row with a NaN/±Inf feature or target " +
      "(f64 and f32 kernels)") {
    import spark.implicits._
    val group = data.select(array(col("x1").cast("double"),
      col("x2").cast("double"), lit(1.0)).as("x"), col("y"))
    val poison = Seq(
      (Seq(Double.NaN, 1.0, 1.0), 3.0),
      (Seq(2.0, Double.PositiveInfinity, 1.0), 1.0),
      (Seq(2.0, 1.0, 1.0), Double.NegativeInfinity)).toDF("x", "y")
    val fits = Seq[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      LinRegAgg.linReg(_, _, 3),
      graft.agg.LinRegAggF32.linRegF32(_, _, 3))
    for (fit <- fits) {
      // one partition, group rows first: the same summation order
      def bits(df: org.apache.spark.sql.DataFrame) = df.coalesce(1)
        .agg(fit(col("x"), col("y")).as("r")).select("r.coeffs")
        .collect()(0).getSeq[Double](0)
        .map(java.lang.Double.doubleToRawLongBits)
      val want = bits(group)
      assert(want.length == 3)
      assert(bits(group.unionByName(poison)) == want)
    }
  }

  test("logistic IRLS matches numpy IRLS") {
    val beta = LinRegOps.logisticFit(data,
      Seq(col("x1"), col("x2")), col("yl"))
    assert(approx(beta(0), 1.9565964973036758, 1e-6))
    assert(approx(beta(1), -1.911686039222589, 1e-6))
    assert(approx(beta(2), -0.8846088843652475, 1e-6))
  }

  test("grouped logistic equals per-group single-frame IRLS") {
    // two groups with genuinely different MLEs: "b" rescales x1, so a
    // shared fit would satisfy neither score equation
    val df = data.withColumn("g", lit("a")).unionByName(
      data.withColumn("x1", col("x1") * 2.0).withColumn("g", lit("b")))
    val fit = LinRegOps.logisticFitGrouped(df, Seq("g"),
        Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
      .collect().map(r =>
        r.getAs[String]("g") -> r.getSeq[Double](1)).toMap
    for (g <- Seq("a", "b")) {
      val solo = LinRegOps.logisticFit(df.filter(col("g") === g),
        Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
      solo.indices.foreach(i =>
        assert(approx(fit(g)(i), solo(i), 1e-6), s"group $g coeff $i"))
    }
  }

  test("grouped logistic l2/l1 match the single-frame solves") {
    val df = data.withColumn("g", lit("a"))
    // NOTE: single-frame `lambda` penalizes the full diagonal and is
    // unscaled (back-compat); the grouped l2 is reference-scaled
    // (m·l2, bias exempt) — so compare through the l1 path, which
    // shares the m-scaled bias-exempt convention
    val g1 = LinRegOps.logisticFitGrouped(df, Seq("g"),
        Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12,
        l1 = 0.02)
      .collect()(0).getSeq[Double](1)
    val s1 = LinRegOps.logisticFit(df, Seq(col("x1"), col("x2")),
      col("yl"), maxIter = 40, tol = 1e-12, l1 = 0.02)
    s1.indices.foreach(i => assert(approx(g1(i), s1(i), 1e-6), s"l1 $i"))
  }

  test("grouped logistic treats a NULL group key as a real group") {
    val df = data.withColumn("g", lit("a")).unionByName(
      data.withColumn("x1", col("x1") * 2.0)
        .withColumn("g", lit(null).cast("string")))
    val fit = LinRegOps.logisticFitGrouped(df, Seq("g"),
        Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
      .collect().map(r =>
        Option(r.getAs[String]("g")) -> r.getSeq[Double](1)).toMap
    assert(fit.contains(None) && fit.contains(Some("a")))
    val soloNull = LinRegOps.logisticFit(df.filter(col("g").isNull),
      Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
    soloNull.indices.foreach(i =>
      assert(approx(fit(None)(i), soloNull(i), 1e-6), s"null-group $i"))
  }

  test("glmPredictGrouped applies the per-group fit with inverse link") {
    val df = data.withColumn("g", lit("a")).unionByName(
      data.withColumn("x1", col("x1") * 2.0).withColumn("g", lit("b")))
    val fit = LinRegOps.logisticFitGrouped(df, Seq("g"),
      Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
    val pred = LinRegOps.glmPredictGrouped(df, fit, Seq("g"),
      Seq(col("x1"), col("x2")))
    // per-group mean prediction equals the group's event rate (the
    // intercept score equation) and all predictions are in (0,1)
    val rows = pred.groupBy(col("g"))
      .agg(avg(col("prediction")).as("mp"), avg(col("yl")).as("my"),
        min(col("prediction")).as("lo"), max(col("prediction")).as("hi"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(approx(r.getDouble(1), r.getDouble(2), 1e-6), r.toString)
      assert(r.getDouble(3) > 0.0 && r.getDouble(4) < 1.0)
    }
  }

  test("grouped GLM matches the solo GLM per group (poisson + gamma)") {
    import graft.linear.GLM
    val base = data
      .withColumn("yp", exp(col("x1") * 0.15 - col("x2") * 0.1 + 0.2))
    val df = base.withColumn("g", lit("a")).unionByName(
      base.withColumn("yp", col("yp") * 2.0).withColumn("g", lit("b")))
    for (fam <- Seq("poisson", "gamma")) {
      val grouped = LinRegOps.glmFitGrouped(df, Seq("g"),
          Seq(col("x1"), col("x2")), col("yp"), fam,
          maxIter = 50, tol = 1e-12)
        .collect().map(r => r.getAs[String]("g") -> r.getSeq[Double](1))
        .toMap
      for (g <- Seq("a", "b")) {
        val solo = new GLM(fam, maxIter = 50, tol = 1e-12)
          .fit(df.filter(col("g") === g),
            Seq(col("x1"), col("x2")), col("yp")).coeffs
        solo.indices.foreach(i =>
          assert(approx(grouped(g)(i), solo(i), 1e-7), s"$fam $g $i"))
      }
    }
    // normal family: one-step weighted least squares == OLS
    val gn = LinRegOps.glmFitGrouped(df.filter(col("g") === "a"),
        Seq("g"), Seq(col("x1"), col("x2")), col("y"), "normal")
      .collect()(0).getSeq[Double](1)
    val ols = data.agg(LinRegAgg.linReg(
      array(col("x1"), col("x2"), lit(1.0)), col("y"), 3).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    ols.indices.foreach(i => assert(approx(gn(i), ols(i), 1e-8)))
  }

  test("null/NaN rows are skipped whole by logistic/GLM/LR fits " +
      "(null_policy=skip), never partially summed") {
    import spark.implicits._
    import graft.linear.{GLM, LR}
    val poison = Seq(
      (None, Some(3.0), Some(0.0)),          // null feature
      (Some(Double.NaN), Some(1.0), Some(1.0)), // NaN feature
      (Some(2.0), Some(1.0), None))          // null target
      .toDF("x1", "x2", "yl")
    val dirty = data.select(
        col("x1").cast("double").as("x1"),
        col("x2").cast("double").as("x2"), col("yl"))
      .unionByName(poison.select(col("x1"), col("x2"), col("yl")))
    val clean = LinRegOps.logisticFit(data,
      Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
    val withPoison = LinRegOps.logisticFit(dirty,
      Seq(col("x1"), col("x2")), col("yl"), maxIter = 40, tol = 1e-12)
    clean.indices.foreach(i =>
      assert(approx(withPoison(i), clean(i), 1e-9), s"logistic $i"))
    val glmClean = new GLM("poisson").fit(
      data.withColumn("yp", exp(col("x1") * 0.1 + 0.2)),
      Seq(col("x1"), col("x2")), col("yp")).coeffs
    val glmDirty = new GLM("poisson").fit(
      data.withColumn("yp", exp(col("x1") * 0.1 + 0.2))
        .select(col("x1").cast("double").as("x1"),
          col("x2").cast("double").as("x2"), col("yp"))
        .unionByName(Seq((Option.empty[Double], Some(1.0), Some(2.0)))
          .toDF("x1", "x2", "yp")),
      Seq(col("x1"), col("x2")), col("yp")).coeffs
    glmClean.indices.foreach(i =>
      assert(approx(glmDirty(i), glmClean(i), 1e-9), s"glm $i"))
    val lrClean = new LR().fit(data, Seq(col("x1")), col("y")).coeffs
    val lrDirty = new LR().fit(
      data.select(col("x1").cast("double").as("x1"), col("y"))
        .unionByName(Seq((Some(Double.NaN), Some(1.0)))
          .toDF("x1", "y")),
      Seq(col("x1")), col("y")).coeffs
    lrClean.indices.foreach(i =>
      assert(approx(lrDirty(i), lrClean(i), 1e-9), s"lr $i"))
  }

  test("l1 logistic satisfies the lasso KKT conditions") {
    val lam = 0.05
    val beta = LinRegOps.logisticFit(data, Seq(col("x1"), col("x2")),
      col("yl"), maxIter = 60, tol = 1e-13, l1 = lam)
    val mu = LinRegOps.logisticPredict(Seq(col("x1"), col("x2")), beta)
    val r = data.agg(
      count(lit(1)).cast("double"),
      sum(mu - col("yl")),
      sum(col("x1") * (mu - col("yl"))),
      sum(col("x2") * (mu - col("yl")))).collect()(0)
    val m = r.getDouble(0)
    // unpenalized bias: exact zero score
    assert(math.abs(r.getDouble(1)) <= 1e-6 * m, "bias score")
    for ((score, j) <- Seq(r.getDouble(2), r.getDouble(3)).zipWithIndex) {
      if (beta(j) == 0.0)
        assert(math.abs(score) <= m * lam + 1e-6 * m, s"kkt zero $j")
      else
        assert(math.abs(score + m * lam * math.signum(beta(j))) <=
          1e-5 * m, s"kkt active $j")
    }
    // shrinkage sanity: the penalized coefficients are no larger
    val free = LinRegOps.logisticFit(data, Seq(col("x1"), col("x2")),
      col("yl"), maxIter = 60, tol = 1e-13)
    assert(math.abs(beta(0)) <= math.abs(free(0)) + 1e-9)
    assert(math.abs(beta(1)) <= math.abs(free(1)) + 1e-9)
  }

  test("singular_x_tol gates rank-deficient large-scale designs, " +
      "keeps full-rank (test_linear_exprs.py:1292-1341 replay)") {
    import spark.implicits._
    val n = 2000
    val feats = 7
    // deterministic gaussian-ish data at the reference's 1e3 scale
    // (the fixture's structure matters, not its RNG stream)
    val rngS = new scala.util.Random(3)
    val rngF = new scala.util.Random(4)
    // rank-1 collinear: x_i = base·(i+1) — must gate to a degenerate
    // result, not finite garbage (Π diag(X'X) overflow regression)
    val sing = (0 until n).map { _ =>
      val base = rngS.nextGaussian() * 1e3
      ((0 until feats).map(i => base * (i + 1)),
        rngS.nextGaussian() * 1e3)
    }.toDF("xs", "y")
    val singFull = sing.agg(LinRegAgg.linReg(
      array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
      col("y"), feats).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(singFull.isEmpty || singFull.forall(_.isNaN),
      s"collinear design must be gated, got $singFull")
    // full rank with y = Σx_i exactly → β ≈ 1 everywhere, NOT nulled
    val full = (0 until n).map { _ =>
      val xs = (0 until feats).map(_ => rngF.nextGaussian() * 1e3)
      (xs, xs.sum)
    }.toDF("xs", "y")
    val fullRes = full.agg(LinRegAgg.linReg(
      array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
      col("y"), feats).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(fullRes.length == feats, "full-rank design must not be nulled")
    fullRes.foreach(b => assert(approx(b, 1.0, 1e-6)))
    // per-solver parametrization (test_linear_exprs.py:1325): the gate
    // fires / stays quiet identically under every solver name
    for (sv <- Seq("qr", "svd", "choleskey")) {
      val sRes = sing.agg(LinRegAgg.linReg(
        array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
        col("y"), feats, solver = sv).as("r"))
        .select("r.coeffs").collect()(0).getSeq[Double](0)
      assert(sRes.isEmpty || sRes.forall(_.isNaN),
        s"solver=$sv must gate the collinear design")
      val fRes = full.agg(LinRegAgg.linReg(
        array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
        col("y"), feats, solver = sv).as("r"))
        .select("r.coeffs").collect()(0).getSeq[Double](0)
      assert(fRes.length == feats, s"solver=$sv must not gate full rank")
    }
    // singular_x_tol = 0 disables the gate (reference pre-gate
    // behavior): a NEARLY collinear design — the regime the gate
    // exists for — returns a finite (explosive) solution instead of
    // null. (Exactly rank-deficient designs still come back degenerate
    // here: elimination meets a hard-zero pivot where faer's QR picks
    // a min-norm solution — documented divergence, gate-off + exact
    // singularity is outside the reference's own test surface.)
    val rngN = new scala.util.Random(5)
    val near = (0 until n).map { _ =>
      val base = rngN.nextGaussian() * 1e3
      ((0 until feats).map(i => base * (i + 1) + rngN.nextGaussian() * 1e-6),
        rngN.nextGaussian() * 1e3)
    }.toDF("xs", "y")
    val unGated = near.agg(LinRegAgg.linReg(
      array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
      col("y"), feats, singularXTol = 0.0).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(unGated.length == feats && unGated.forall(b => !b.isNaN),
      "tol=0 must disable the gate on a near-collinear design")
    // ...and the default gate nulls that same near-collinear design
    val gated = near.agg(LinRegAgg.linReg(
      array((0 until feats).map(i => element_at(col("xs"), i + 1)): _*),
      col("y"), feats).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(gated.isEmpty || gated.forall(_.isNaN),
      "default tol must gate the near-collinear design")
    // the windowed solver shares the gate: a collinear window comes
    // back null, not garbage (ADVICE: relative pivot tolerance)
    val dfw = (0 until 30).map { i =>
      val x1 = math.sin(i * 0.9) * 1e3
      (i.toLong, x1, x1 * 3.0, math.cos(i * 1.3) * 1e3, "g")
    }.toDF("o", "x1", "x2", "y", "g")
    val rolled = LinRegOps.rollingLinReg(dfw,
        Seq(col("x1"), col("x2")), col("y"), col("o"), Seq("g"), 8,
        addBias = false)
      .select("coeffs").collect()
    assert(rolled.drop(7).forall(_.isNullAt(0)),
      "collinear rolling windows must be gated to null")
  }

  test("simple slope/intercept equal the d=1 closed form") {
    val r = data.agg(
      LinRegOps.simpleSlope(col("x1"), col("y")).as("s"),
      LinRegOps.simpleIntercept(col("x1"), col("y")).as("i")).collect()(0)
    // cross-check vs Gram aggregate with [x1, 1]
    val res = data.agg(LinRegAgg.linReg(
      array(col("x1"), lit(1.0)), col("y"), 2).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    assert(approx(r.getDouble(0), res(0), 1e-10))
    assert(approx(r.getDouble(1), res(1), 1e-10))
  }

  test("recursive lin-reg last row equals full-sample fit") {
    import spark.implicits._
    val df = data.withColumn("o", monotonically_increasing_id())
      .withColumn("g", lit("a"))
    val last = LinRegOps.recursiveSimpleLinReg(df, col("x1"), col("y"),
      col("o"), Seq("g")).orderBy(col("o").desc).limit(1).collect()(0)
    val full = data.agg(LinRegOps.simpleSlope(col("x1"), col("y")))
      .collect()(0).getDouble(0)
    assert(approx(last.getAs[Double]("recursive_slope"), full, 1e-9))
  }

  // local normal-equations solve (bias last) for brute-force windows
  private def localOls(rows: Seq[(Array[Double], Double)],
                       lambda: Double = 0.0): Array[Double] = {
    val d = rows.head._1.length + 1
    val a = Array.ofDim[Double](d, d + 1)
    rows.foreach { case (x, yv) =>
      val xb = x :+ 1.0
      for (j <- 0 until d; k <- 0 until d) a(j)(k) += xb(j) * xb(k)
      for (j <- 0 until d) a(j)(d) += xb(j) * yv
    }
    for (j <- 0 until d) a(j)(j) += lambda
    for (c <- 0 until d) {
      val piv = (c until d).maxBy(r => math.abs(a(r)(c)))
      val t = a(piv); a(piv) = a(c); a(c) = t
      val pv = a(c)(c)
      for (j <- c to d) a(c)(j) /= pv
      for (r <- 0 until d if r != c) {
        val f = a(r)(c)
        if (f != 0.0) for (j <- c to d) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(d)(i => a(i)(d))
  }

  test("general-d rolling OLS matches brute-force per-window fits " +
      "(test_linear_exprs.py:813-853 device)") {
    import spark.implicits._
    // LCG-mixed features: modular ramps like i%10 are affine in i
    // inside any no-wrap window, which makes the design genuinely
    // singular — hash the index instead so every window is full rank
    def u(i: Int, salt: Int): Double = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31); h *= 0x94D049BB133111EBL; h ^= (h >>> 29)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    val raw = (0 until 60).map { i =>
      val x1 = u(i, 1); val x2 = u(i, 2); val x3 = u(i, 3)
      val y = 0.5 * x1 + 0.25 * x2 - 0.15 * x3 + u(i, 4) / 100.0
      (i.toLong, x1, x2, x3, y)
    }
    val df = raw.toDF("o", "x1", "x2", "x3", "y").withColumn("g", lit("a"))
    for (window <- Seq(5, 8, 12)) {
      val got = LinRegOps.rollingLinReg(df,
          Seq(col("x1"), col("x2"), col("x3")), col("y"), col("o"),
          Seq("g"), window)
        .orderBy("o").select("coeffs").collect()
      raw.indices.foreach { i =>
        if (i < window - 1)
          assert(got(i).isNullAt(0), s"row $i window $window: want null")
        else {
          val want = localOls(raw.slice(i - window + 1, i + 1)
            .map(r => (Array(r._2, r._3, r._4), r._5)))
          val g = got(i).getSeq[Double](0)
          want.indices.foreach(j => assert(approx(g(j), want(j), 1e-7),
            s"row $i window $window coeff $j"))
        }
      }
    }
  }

  test("rolling OLS null-skip + min_valid_rows gate " +
      "(test_linear_exprs.py:857-913)") {
    import spark.implicits._
    val window = 6
    val minValid = 5
    val raw = (0 until 80).map { i =>
      val nullX1 = (i * 13) % 7 == 0
      val x1 = if (nullX1) None else Some((i % 10).toDouble)
      val x2 = ((i * 7) % 13).toDouble
      val y = x1.map(v => 0.15 * v + 0.3 * x2 + ((i * 37) % 11) / 100.0)
      (i.toLong, x1, x2, y)
    }
    val df = raw.toDF("o", "x1", "x2", "y").withColumn("g", lit("a"))
    val got = LinRegOps.rollingLinReg(df, Seq(col("x1"), col("x2")),
        col("y"), col("o"), Seq("g"), window, nullSkip = true,
        minValidRows = minValid)
      .orderBy("o").select("coeffs").collect()
    raw.indices.foreach { i =>
      val lo = i - window + 1
      val validRows = if (lo < 0) Nil
        else raw.slice(lo, i + 1).collect {
          case (_, Some(x1), x2, Some(yv)) => (Array(x1, x2), yv)
        }
      if (lo < 0 || validRows.length < minValid)
        assert(got(i).isNullAt(0), s"row $i: want null")
      else {
        val want = localOls(validRows)
        val g = got(i).getSeq[Double](0)
        want.indices.foreach(j => assert(approx(g(j), want(j), 1e-7),
          s"row $i coeff $j"))
      }
    }
  }

  test("multi-target shared-Gram fit equals per-target fits " +
      "(test_linear_exprs.py:1068-1113)") {
    val got = data.withColumn("y2", col("y") * 0.5 - col("x1") * 2.0)
    val multi = LinRegOps.linRegMultiTarget(got,
      Seq(col("x1"), col("x2")), Seq(col("y"), col("y2"))).collect()(0)
    def single(t: org.apache.spark.sql.Column) = got.agg(LinRegAgg.linReg(
        array(col("x1"), col("x2"), lit(1.0)), t, 3).as("r"))
      .select("r.coeffs").collect()(0).getSeq[Double](0)
    val w0 = single(col("y")); val w1 = single(col("y2"))
    val g0 = multi.getSeq[Double](multi.fieldIndex("target_0"))
    val g1 = multi.getSeq[Double](multi.fieldIndex("target_1"))
    (0 until 3).foreach { i =>
      assert(approx(g0(i), w0(i), 1e-9), s"t0 coeff $i")
      assert(approx(g1(i), w1(i), 1e-9), s"t1 coeff $i")
    }
  }

  test("hcReport HC0-HC3 match the statsmodels sandwich formulas " +
      "(test_linear_exprs.py:168-202 device)") {
    import spark.implicits._
    def u(i: Int, salt: Int): Double = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31); h *= 0x94D049BB133111EBL; h ^= (h >>> 29)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    // heteroskedastic noise (scales with x1) so HC0-3 differ from se
    val raw = (0 until 60).map { i =>
      val x1 = u(i, 1); val x2 = u(i, 2)
      (i.toLong, x1, x2, 0.3 * x1 - 0.2 * x2 + 0.1 +
        (u(i, 3) - 0.5) * x1 * 0.2)
    }
    val df = raw.toDF("o", "x1", "x2", "y").withColumn("g", lit("a"))
    val got = LinRegOps.hcReport(df, Seq(col("x1"), col("x2")), col("y"),
      Seq("g")).collect()(0)
    // brute force
    val dTot = 3
    val xs = raw.map(r => Array(r._2, r._3, 1.0))
    val ys = raw.map(_._4)
    val a = Array.ofDim[Double](dTot, dTot)
    val xy = new Array[Double](dTot)
    xs.zip(ys).foreach { case (x, yv) =>
      for (j <- 0 until dTot; k <- 0 until dTot) a(j)(k) += x(j) * x(k)
      for (j <- 0 until dTot) xy(j) += x(j) * yv
    }
    val beta = localOls(raw.map(r => (Array(r._2, r._3), r._4)))
    // invert A by solving A X = I column-wise with localOls-style solve
    def solveCol(b: Array[Double]): Array[Double] = {
      val m = Array.tabulate(dTot)(j =>
        Array.tabulate(dTot + 1)(k => if (k < dTot) a(j)(k) else b(j)))
      for (c <- 0 until dTot) {
        val piv = (c until dTot).maxBy(r => math.abs(m(r)(c)))
        val t = m(piv); m(piv) = m(c); m(c) = t
        val pv = m(c)(c)
        for (j <- c to dTot) m(c)(j) /= pv
        for (r <- 0 until dTot if r != c) {
          val f = m(r)(c)
          if (f != 0.0) for (j <- c to dTot) m(r)(j) -= f * m(c)(j)
        }
      }
      Array.tabulate(dTot)(i => m(i)(dTot))
    }
    val ainv = Array.tabulate(dTot)(j =>
      solveCol(Array.tabulate(dTot)(k => if (k == j) 1.0 else 0.0)))
        .transpose
    val resid = xs.zip(ys).map { case (x, yv) =>
      yv - x.zip(beta).map(p => p._1 * p._2).sum }
    val hs = xs.map { x =>
      (for (j <- 0 until dTot; k <- 0 until dTot)
        yield x(j) * ainv(j)(k) * x(k)).sum }
    def sandwich(ws: Seq[Double], scale: Double): Seq[Double] = {
      val m = Array.ofDim[Double](dTot, dTot)
      xs.zip(ws).foreach { case (x, wv) =>
        for (j <- 0 until dTot; k <- 0 until dTot)
          m(j)(k) += x(j) * x(k) * wv }
      (0 until dTot).map { i =>
        var s = 0.0
        for (j <- 0 until dTot; k <- 0 until dTot)
          s += ainv(i)(j) * m(j)(k) * ainv(k)(i)
        math.sqrt(s * scale)
      }
    }
    val n = raw.length
    val e2 = resid.map(e => e * e)
    val wantHc0 = sandwich(e2, 1.0)
    val wantHc1 = sandwich(e2, n.toDouble / (n - dTot))
    val wantHc2 = sandwich(e2.zip(hs).map(p => p._1 / (1 - p._2)), 1.0)
    val wantHc3 = sandwich(e2.zip(hs).map(p =>
      p._1 / math.pow(1 - p._2, 2)), 1.0)
    val sigma2 = e2.sum / (n - dTot)
    val wantSe = (0 until dTot).map(i => math.sqrt(sigma2 * ainv(i)(i)))
    def arr(name: String) =
      got.getSeq[Double](got.fieldIndex(name))
    (0 until dTot).foreach { i =>
      assert(approx(arr("coeffs")(i), beta(i), 1e-8), s"beta $i")
      assert(approx(arr("se")(i), wantSe(i), 1e-8), s"se $i")
      assert(approx(arr("hc0_se")(i), wantHc0(i), 1e-8), s"hc0 $i")
      assert(approx(arr("hc1_se")(i), wantHc1(i), 1e-8), s"hc1 $i")
      assert(approx(arr("hc2_se")(i), wantHc2(i), 1e-8), s"hc2 $i")
      assert(approx(arr("hc3_se")(i), wantHc3(i), 1e-8), s"hc3 $i")
    }
    // HCs must genuinely differ from the classical se on this data
    assert(math.abs(wantHc0.head - wantSe.head) > 1e-6)
  }

  test("hcReport keeps colliding-concat groups distinct (two string " +
      "keys whose concatenation is identical)") {
    import spark.implicits._
    def u(i: Int, salt: Int): Double = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31); h *= 0x94D049BB133111EBL; h ^= (h >>> 29)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    // ("x","yz") and ("xy","z") concatenate to the same "xyz" — a
    // string-keyed join would merge the groups
    val rows = (0 until 40).flatMap { i =>
      val x = u(i, 1)
      Seq(("x", "yz", x, 1.0 * x + 0.1 + (u(i, 2) - 0.5) * 0.01),
        ("xy", "z", x, -2.0 * x + 0.4 + (u(i, 3) - 0.5) * 0.01))
    }
    val df = rows.toDF("g1", "g2", "x", "y")
    val got = LinRegOps.hcReport(df, Seq(col("x")), col("y"),
      Seq("g1", "g2")).collect()
    assert(got.length == 2, s"want 2 groups, got ${got.length}")
    val byKey = got.map(r => (r.getString(0), r.getString(1)) ->
      r.getSeq[Double](r.fieldIndex("coeffs"))).toMap
    assert(math.abs(byKey(("x", "yz"))(0) - 1.0) < 0.01)
    assert(math.abs(byKey(("xy", "z"))(0) + 2.0) < 0.01)
  }

  test("Column-algebra Cramer twins agree with the general windowed path") {
    import spark.implicits._
    def u(i: Int, salt: Int): Double = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31); h *= 0x94D049BB133111EBL; h ^= (h >>> 29)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    val raw = (0 until 50).map { i =>
      (i.toLong, u(i, 1), u(i, 2),
        0.4 * u(i, 1) - 0.7 * u(i, 2) + u(i, 3) / 50.0)
    }
    val df = raw.toDF("o", "x1", "x2", "y").withColumn("g", lit("a"))
    val cramer = LinRegOps.rollingLinReg2(df, col("x1"), col("x2"),
        col("y"), col("o"), Seq("g"), 9)
      .filter(col("roll_n") === 9.0).orderBy("o")
      .select("roll_b1", "roll_b2", "roll_b0").collect()
    val general = LinRegOps.rollingLinReg(df, Seq(col("x1"), col("x2")),
        col("y"), col("o"), Seq("g"), 9)
      .filter(col("coeffs").isNotNull).orderBy("o")
      .select("coeffs").collect()
    assert(cramer.length == general.length && cramer.nonEmpty)
    cramer.zip(general).zipWithIndex.foreach { case ((c, g), i) =>
      val gs = g.getSeq[Double](0)
      assert(approx(c.getDouble(0), gs(0), 1e-8), s"win $i b1")
      assert(approx(c.getDouble(1), gs(1), 1e-8), s"win $i b2")
      assert(approx(c.getDouble(2), gs(2), 1e-8), s"win $i b0")
    }
  }

  test("general-d recursive OLS matches brute-force prefix fits; " +
      "ridge matches local ridge (test_linear_exprs.py:717-811)") {
    import spark.implicits._
    val raw = (0 until 40).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 7) % 13).toDouble
      val y = 0.5 * x1 + 0.25 * x2 + ((i * 37) % 11) / 100.0
      (i.toLong, x1, x2, y)
    }
    val df = raw.toDF("o", "x1", "x2", "y").withColumn("g", lit("a"))
    val got = LinRegOps.recursiveLinReg(df, Seq(col("x1"), col("x2")),
        col("y"), col("o"), Seq("g"), startWith = 4)
      .orderBy("o").select("coeffs").collect()
    raw.indices.foreach { i =>
      if (i < 3) assert(got(i).isNullAt(0), s"row $i: want null")
      else {
        val want = localOls(raw.take(i + 1)
          .map(r => (Array(r._2, r._3), r._4)))
        val g = got(i).getSeq[Double](0)
        want.indices.foreach(j => assert(approx(g(j), want(j), 1e-7),
          s"row $i coeff $j"))
      }
    }
    // rolling ridge (test_linear_exprs.py:122 rolling_ridge)
    val gotR = LinRegOps.rollingLinReg(df, Seq(col("x1"), col("x2")),
        col("y"), col("o"), Seq("g"), 8, lambda = 0.5)
      .orderBy("o").select("coeffs").collect()
    (7 until raw.length).foreach { i =>
      val want = localOls(raw.slice(i - 7, i + 1)
        .map(r => (Array(r._2, r._3), r._4)), lambda = 0.5)
      val g = gotR(i).getSeq[Double](0)
      want.indices.foreach(j => assert(approx(g(j), want(j), 1e-7),
        s"ridge row $i coeff $j"))
    }
  }
}
