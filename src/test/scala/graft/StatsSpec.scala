package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.KendallTauAgg
import graft.functions.{PValues, RandomGen, Stats}
import graft.ops.StatOps

class StatsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = {
    val ok = math.abs(a - b) <= tol
    if (!ok) info(s"got $a expected $b")
    ok
  }

  test("t p-values match independent incomplete-beta goldens") {
    import spark.implicits._
    // goldens from a standalone continued-fraction betainc implementation
    val df = Seq((2.0, 10.0), (2.5, 37.4212), (1.2345, 100.0)).toDF("t", "df")
    val got = df.select(PValues.tSf(col("t"), col("df"))).as[Double].collect()
    assert(approx(got(0), 0.07338803477074045, 1e-12))
    assert(approx(got(1), 0.016925822609975303, 1e-12))
    assert(approx(got(2), 0.2199097238674017, 1e-12))
  }

  test("tTestInd statistic on a hand-computable pair") {
    import spark.implicits._
    // a = [1,2,3,4], b = [2,4,6,8]: m1=2.5 m2=5, v1=5/3 v2=20/3,
    // sp2=(3*5/3+3*20/3)/6=25/6, t=(2.5-5)/sqrt(25/6*0.5)= -1.6970562748
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)).toDF("a", "b")
    val r = df.agg(Stats.tTestInd(col("a"), col("b")).as("t")).select("t.*")
      .collect()(0)
    assert(approx(r.getDouble(0), -2.5 / math.sqrt(25.0 / 6 / 2)))
    assert(r.getDouble(1) == 6.0)
  }

  test("kendall tau matches scipy doc example (-0.4714045207910316)") {
    import spark.implicits._
    val df = Seq((12.0, 1.0), (2.0, 4.0), (1.0, 7.0), (12.0, 1.0),
      (2.0, 0.0)).toDF("x", "y")
    val r = df.agg(KendallTauAgg.kendallTau(col("x"), col("y")).as("tau"))
      .collect()(0)
    assert(approx(r.getDouble(0), -0.4714045207910316, 1e-12))
  }

  test("spearman matches scipy doc example (0.8207826816681233)") {
    import spark.implicits._
    val df = Seq((1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0), (5.0, 7.0))
      .toDF("x", "y").withColumn("g", lit("a"))
    val r = StatOps.spearman(df, col("x"), col("y"), Seq("g")).collect()(0)
    assert(approx(r.getAs[Double]("spearman"), 0.8207826816681233, 1e-12))
  }

  test("spearman ungrouped (GlobalCumsum rank-map path) equals the " +
      "grouped windowed path with a constant key") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // duplicate-heavy so tie-averaged ranks are exercised
    val df = (1 to 400).map(_ =>
      (rng.nextInt(20).toDouble, rng.nextInt(15).toDouble))
      .toDF("x", "y")
    val grouped = StatOps.spearman(df.withColumn("g", lit(1)),
      col("x"), col("y"), Seq("g")).collect()(0).getAs[Double]("spearman")
    val ungrouped = StatOps.spearman(df, col("x"), col("y"), Nil)
      .collect()(0).getAs[Double]("spearman")
    assert(approx(ungrouped, grouped, 1e-12),
      s"ungrouped $ungrouped vs grouped $grouped")
    // rows with a null or NaN x or y are dropped before ranking on both
    // paths (pairwise deletion): ranks of (1,2,3,5) vs (5,6,7,7)
    val withGaps = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (null, 8.0), (5.0, 7.0),
      (Double.NaN, 1.0)).toDF("x", "y")
    val gapG = StatOps.spearman(withGaps.withColumn("g", lit(1)),
      col("x"), col("y"), Seq("g")).collect()(0).getAs[Double]("spearman")
    val gapU = StatOps.spearman(withGaps, col("x"), col("y"), Nil)
      .collect()(0).getAs[Double]("spearman")
    assert(approx(gapU, gapG, 1e-12), s"ungrouped $gapU vs grouped $gapG")
    assert(approx(gapU, 4.5 / math.sqrt(22.5), 1e-12))
    // scipy doc example through the ungrouped path
    val d2 = Seq((1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0),
      (5.0, 7.0)).toDF("x", "y")
    val r2 = StatOps.spearman(d2, col("x"), col("y"), Nil).collect()(0)
    assert(approx(r2.getAs[Double]("spearman"), 0.8207826816681233, 1e-12))
  }

  test("xiCorr ungrouped (distributed-rank path) equals the grouped " +
      "windowed path with a constant key, exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // duplicate-heavy x AND y so tie groups span range partitions
    val df = (1 to 500).map(_ =>
      (rng.nextInt(12).toDouble, rng.nextInt(9).toDouble)).toDF("x", "y")
    val grouped = StatOps.xiCorr(df.withColumn("g", lit(1)), col("x"),
      col("y"), Seq("g"), returnP = true).collect()(0)
    val ungrouped = StatOps.xiCorr(df, col("x"), col("y"), Nil,
      returnP = true).collect()(0)
    assert(ungrouped.getAs[Double]("xi") == grouped.getAs[Double]("xi"),
      s"xi ${ungrouped.getAs[Double]("xi")} vs " +
        s"${grouped.getAs[Double]("xi")}")
    assert(ungrouped.getAs[Double]("pvalue") ==
      grouped.getAs[Double]("pvalue"))
    // strictly monotone data -> xi close to 1 through the new path
    val mono = (1 to 200).map(i => (i.toDouble, i * 2.0)).toDF("x", "y")
    val m = StatOps.xiCorr(mono, col("x"), col("y"), Nil).collect()(0)
    assert(m.getAs[Double]("xi") > 0.95)
  }

  test("ks2Samp exact D on a tiny example") {
    import spark.implicits._
    // s1 = [1,2,3], s2 = [1.5, 2.5, 3.5, 4.5]
    // pooled: D max at x=3: F1=1, F2=0.5 → D=0.5
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (1.5, false), (2.5, false), (3.5, false), (4.5, false))
      .toDF("x", "s").withColumn("g", lit(1))
    val r = StatOps.ks2Samp(df, col("x"), col("s"), Seq("g")).collect()(0)
    assert(approx(r.getAs[Double]("d"), 0.5, 1e-12))
  }

  test("mannWhitneyU matches hand-computed U") {
    import spark.implicits._
    // s1=[1,2,3], s2=[4,5,6]: all s2 > s1, U1 = 0
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false))
      .toDF("x", "s").withColumn("g", lit(1))
    val r = StatOps.mannWhitneyU(df, col("x"), col("s"), Seq("g")).collect()(0)
    assert(approx(r.getAs[Double]("u"), 0.0, 1e-12))
  }

  test("weighted mean/var reduce to plain with unit weights") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x").withColumn("w", lit(1.0))
    val r = df.agg(
      Stats.weightedMean(col("x"), col("w")).as("m"),
      Stats.weightedVar(col("x"), col("w")).as("v"),
      Stats.weightedVar(col("x"), col("w"), freqWeights = true)
        .as("vf")).collect()(0)
    assert(approx(r.getAs[Double]("m"), 2.5))
    assert(approx(r.getAs[Double]("v"), 1.25)) // population var
    // freq_weights: /(Σw − 1) = sample var with unit weights
    // (stats.py:876)
    assert(approx(r.getAs[Double]("vf"), 5.0 / 3.0))
  }

  test("t-test alternatives follow scipy (t_test.rs:26-58): " +
      "less = cdf(t), greater = sf(t), two-sided = 2·sf(|t|)") {
    import spark.implicits._
    val df = Seq((1.0, 4.5), (2.0, 5.0), (3.0, 6.5), (2.5, 4.0))
      .toDF("a", "b")
    val ts = Stats.tTestInd(col("a"), col("b"))
    val r = df.agg(
      PValues.withTPValue(ts, "two-sided").as("p2"),
      PValues.withTPValue(ts, "less").as("pl"),
      PValues.withTPValue(ts, "greater").as("pg")).collect()(0)
    val p2 = r.getStruct(0).getDouble(1)
    val pl = r.getStruct(1).getDouble(1)
    val pg = r.getStruct(2).getDouble(1)
    assert(approx(pl + pg, 1.0, 1e-12))
    assert(approx(p2, 2.0 * math.min(pl, pg), 1e-12))
    assert(pl < 0.05 && pg > 0.95) // a is clearly less than b here
  }

  test("mannWhitneyU alternatives: scipy asymptotic literals on " +
      "[1,2,3] vs [4,5,6] (mann_whitney_u.rs:47-58)") {
    import spark.implicits._
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false))
      .toDF("x", "s").withColumn("g", lit(1))
    // U1=0, U2=9, mu=4.5, sd=sqrt(5.25); scipy method='asymptotic':
    // two-sided p=2·sf((9−4.5−0.5)/sd)=0.08086..., less tests U2,
    // greater tests U1 → p=sf((0−5)/sd)=0.98545...
    def p(alt: String) = StatOps.mannWhitneyU(df, col("x"), col("s"),
      Seq("g"), alt).collect()(0).getAs[Double]("pvalue")
    val sd = math.sqrt(5.25)
    val nd = new org.apache.commons.math3.distribution
      .NormalDistribution(null, 0.0, 1.0)
    def sf(z: Double) = 1.0 - nd.cumulativeProbability(z)
    assert(approx(p("two-sided"), 2.0 * sf(4.0 / sd), 1e-12))
    assert(approx(p("less"), sf(4.0 / sd), 1e-12))
    assert(approx(p("greater"), sf(-5.0 / sd), 1e-12))
  }

  test("xiCorr return_p: NaN under n=30, asymptotic 2·sf(√n·ξ/√0.4) " +
      "at n≥30 (xi_corr.rs:36-43)") {
    import spark.implicits._
    val small = (1 to 10).map(i => (i.toDouble, i.toDouble * 2))
      .toDF("x", "y").withColumn("g", lit(1))
    val rs = StatOps.xiCorr(small, col("x"), col("y"), Seq("g"),
      returnP = true).collect()(0)
    assert(rs.getAs[Double]("pvalue").isNaN)
    val big = (1 to 40).map(i => (i.toDouble, i.toDouble * 2))
      .toDF("x", "y").withColumn("g", lit(1))
    val rb = StatOps.xiCorr(big, col("x"), col("y"), Seq("g"),
      returnP = true).collect()(0)
    val xi = rb.getAs[Double]("xi")
    val nd = new org.apache.commons.math3.distribution
      .NormalDistribution(null, 0.0, 1.0)
    val exp = 2.0 * (1.0 - nd.cumulativeProbability(
      math.sqrt(40.0) * math.abs(xi) / math.sqrt(0.4)))
    assert(approx(rb.getAs[Double]("pvalue"), exp, 1e-12))
  }

  test("perturb stays in [−ε/2, ε/2) / [0, ε) and addNoise " +
      "dispatches (stats.py:406-491)") {
    import spark.implicits._
    val df = (1 to 2000).map(_.toDouble).toDF("x")
      .withColumn("p", RandomGen.perturb(col("x"), 0.1, 7))
      .withColumn("pp",
        RandomGen.perturb(col("x"), 0.1, 8, positive = true))
      .withColumn("an", RandomGen.addNoise(col("x"), "uniform", 0.1, 9))
    val r = df.select(
      max(abs(col("p") - col("x"))).as("m"),
      min(col("pp") - col("x")).as("lo"),
      max(col("pp") - col("x")).as("hi"),
      max(abs(col("an") - col("x"))).as("nu")).collect()(0)
    assert(r.getAs[Double]("m") <= 0.05)
    assert(r.getAs[Double]("lo") >= 0.0 && r.getAs[Double]("hi") < 0.1)
    assert(r.getAs[Double]("nu") <= 0.05)
    intercept[IllegalArgumentException] {
      RandomGen.addNoise(col("x"), "laplace")
    }
  }

  test("pAdjust: textbook BH/Holm/Bonferroni values, ties equalized") {
    import spark.implicits._
    def adj(ps: Seq[Double], m: String): Map[Double, Double] =
      graft.ops.StatOps.pAdjust(
        ps.toDF("p0").withColumn("g", lit("a")), col("p0"), Seq("g"), m)
        .collect().map(r => r.getAs[Double]("p") ->
          r.getAs[Double]("p_adj")).toMap
    val ps = Seq(0.01, 0.02, 0.03, 0.04, 0.05)
    val bonf = adj(ps, "bonferroni")
    assert(approx(bonf(0.01), 0.05) && approx(bonf(0.05), 0.25))
    val holm = adj(ps, "holm")
    // (5,4,3,2,1)·p = [.05,.08,.09,.08,.05] → cummax [.05,.08,.09,.09,.09]
    assert(approx(holm(0.01), 0.05) && approx(holm(0.02), 0.08) &&
      approx(holm(0.03), 0.09) && approx(holm(0.04), 0.09) &&
      approx(holm(0.05), 0.09))
    val bh = adj(ps, "bh")
    // n·p/i = 0.05 throughout → suffix-min 0.05 everywhere
    ps.foreach(p => assert(approx(bh(p), 0.05), s"bh($p)"))
    // ties: [.01,.01,.04] → BH [.015,.015,.04] (both tied rows equal)
    val tied = graft.ops.StatOps.pAdjust(
      Seq(0.01, 0.01, 0.04).toDF("p0").withColumn("g", lit("a")),
      col("p0"), Seq("g"), "bh").collect()
      .map(r => (r.getAs[Double]("p"), r.getAs[Double]("p_adj")))
    assert(tied.filter(_._1 == 0.01).map(_._2).distinct.length == 1)
    assert(approx(tied.filter(_._1 == 0.01).head._2, 0.015))
    assert(approx(tied.filter(_._1 == 0.04).head._2, 0.04))
  }

  test("effectSizes: hand-computed d/g/delta, degenerate nulls") {
    import spark.implicits._
    // s1 = [2,4,6] (m=4, v=4), s2 = [1,3] (m=2, v=2):
    // sp = sqrt((2·4 + 1·2)/3) = sqrt(10/3), d = 2/sp ≈ 1.095445
    // g = d·(1 − 3/11) = d·8/11; ranks [1,2,3,4,6] → r1 = 2+4+5 = 11,
    // u1 = 11 − 6 = 5, δ = 2·5/6 − 1 = 2/3
    val df = Seq((2.0, 1), (4.0, 1), (6.0, 1), (1.0, 0), (3.0, 0))
      .toDF("x", "s").withColumn("g", lit("a"))
    val r = graft.ops.StatOps.effectSizes(df, col("x"),
      col("s") === 1, Seq("g")).collect()(0)
    val d = 2.0 / math.sqrt(10.0 / 3.0)
    assert(approx(r.getAs[Double]("cohen_d"), d))
    assert(approx(r.getAs[Double]("hedges_g"), d * 8.0 / 11.0))
    assert(approx(r.getAs[Double]("cliffs_delta"), 2.0 / 3.0))
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 2L)
    // single-row sample: d/g null (pooled variance undefined), delta
    // still defined
    val tiny = Seq((5.0, 1), (1.0, 0), (2.0, 0)).toDF("x", "s")
      .withColumn("g", lit("a"))
    val rt = graft.ops.StatOps.effectSizes(tiny, col("x"),
      col("s") === 1, Seq("g")).collect()(0)
    assert(rt.isNullAt(rt.fieldIndex("cohen_d")))
    assert(approx(rt.getAs[Double]("cliffs_delta"), 1.0))
    // identical constant samples: sp = 0 → d null
    val const = Seq((3.0, 1), (3.0, 1), (3.0, 0), (3.0, 0))
      .toDF("x", "s").withColumn("g", lit("a"))
    val rc = graft.ops.StatOps.effectSizes(const, col("x"),
      col("s") === 1, Seq("g")).collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("cohen_d")))
    assert(approx(rc.getAs[Double]("cliffs_delta"), 0.0))
  }

  test("grouped kruskalWallis is bit-identical across repeats, join " +
      "strategies and AQE") {
    import spark.implicits._
    // 3 groups x 15 levels, tie-heavy values: enough levels that the
    // order Σ rf²/nf is summed in changes its last bits
    val df = (0 until 3000).map { i =>
      (i % 3, s"L${(i * 7) % 15}", ((i * 37) % 101) / 4.0 + (i % 15) * 0.5)
    }.toDF("g", "lvl", "x")
    def hs(): Seq[Long] = StatOps.kruskalWallis(df, col("x"), col("lvl"),
        Seq("g")).select("g", "h").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
      .map(t => java.lang.Double.doubleToRawLongBits(t._2)).toSeq
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val runs = try {
      val default = Seq.fill(3)(hs())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noBroadcast = Seq.fill(3)(hs())
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      default ++ noBroadcast ++ Seq.fill(3)(hs())
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    assert(runs.head.size == 3)
    assert(runs.distinct.size == 1,
      "h differs: " + runs.distinct.map(_.map(java.lang.Double
        .longBitsToDouble)).mkString(" / "))
  }
}
