package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Metrics
import graft.ops.MetricOps

class MetricsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol

  test("rocAuc matches the classic 4-point example (sklearn = 0.75)") {
    import spark.implicits._
    val df = Seq((0, 0.1), (0, 0.4), (1, 0.35), (1, 0.8))
      .toDF("y", "p").withColumn("g", lit("a"))
    val res = MetricOps.rocAucNamed(df, col("y"), col("p"), Seq("g"))
      .collect()
    assert(res.length == 1)
    assert(approx(res(0).getDouble(1), 0.75))
  }

  test("rocAuc with ties uses average ranks (trapezoid equivalence)") {
    import spark.implicits._
    // y = [0,1,0,1], p = [0.5,0.5,0.2,0.8]: one tied pair contributes 1/2.
    // pairs: (pos .5 vs neg .5)=0.5, (pos .5 vs neg .2)=1, (pos .8 vs both)=2
    // AUC = 3.5/4 = 0.875
    val df = Seq((0, 0.5), (1, 0.5), (0, 0.2), (1, 0.8))
      .toDF("y", "p").withColumn("g", lit("a"))
    val res = MetricOps.rocAucNamed(df, col("y"), col("p"), Seq("g")).collect()
    assert(approx(res(0).getDouble(1), 0.875))
  }

  test("logLoss / r2 / l1 / l2 / huber / mcc agree with hand math") {
    import spark.implicits._
    val df = Seq((1.0, 0.9), (0.0, 0.1), (1.0, 0.4), (0.0, 0.6))
      .toDF("y", "p")
    val r = df.agg(
      Metrics.logLoss(col("y"), col("p")).as("ll"),
      Metrics.l1Loss(col("y"), col("p")).as("l1"),
      Metrics.l2Loss(col("y"), col("p")).as("l2"),
      Metrics.huberLoss(col("y"), col("p"), 0.5).as("hub"),
      Metrics.r2(col("y"), col("p")).as("r2")
    ).collect()(0)
    val ll = -(math.log(0.9) + math.log(0.9) + math.log(0.4) + math.log(0.4)) / 4
    assert(approx(r.getAs[Double]("ll"), ll))
    assert(approx(r.getAs[Double]("l1"), (0.1 + 0.1 + 0.6 + 0.6) / 4))
    assert(approx(r.getAs[Double]("l2"), (0.01 + 0.01 + 0.36 + 0.36) / 4))
    // huber δ=0.5: 0.1→0.005, 0.1→0.005, 0.6→0.5*(0.6-0.25)=0.175 ×2
    assert(approx(r.getAs[Double]("hub"), (0.005 + 0.005 + 0.175 + 0.175) / 4))
    // r2: ybar=.5, ssTot=1, ssRes=0.01+0.01+0.36+0.36=0.74
    assert(approx(r.getAs[Double]("r2"), 1 - 0.74))
  }

  test("roc_auc edge cases: all-zero targets NaN, constant score 0.5, " +
      "binary scores match sklearn trapezoid (test_metrics.py:124-172)") {
    import spark.implicits._
    import graft.ops.MetricOps
    def auc(pairs: Seq[(Int, Double)]): Any = {
      val r = MetricOps.rocAuc(
        pairs.map { case (y, s) => ("g", y, s) }.toDF("g", "y", "s"),
        col("y"), col("s"), Seq(col("g"))).head
      if (r.isNullAt(r.fieldIndex("roc_auc"))) null
      else r.getDouble(r.fieldIndex("roc_auc"))
    }
    // all classes 0 → NaN (reference: "roc_auc returns NaN")
    val zero = auc((1 to 10).map(i => (0, i / 10.0)))
    assert(zero != null && zero.asInstanceOf[Double].isNaN,
      s"all-zero targets: got $zero")
    // constant prediction → exactly 0.5 (the zero-padding edge case)
    assert(auc(Seq((0, 0.5), (1, 0.5))) == 0.5)
    // binary scores (test_roc_auc_2 literal): single threshold point,
    // sklearn trapezoid = (1 + tpr - fpr)/2 = (1 + 6/11 - 6/10)/2
    val yt = Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1,
      1, 1, 1)
    val yp = Seq(1, 0, 0, 1, 1, 0, 1, 0, 1, 1, 1, 1, 0, 1, 0, 0, 1, 0,
      0, 1, 1).map(_.toDouble)
    val got = auc(yt.zip(yp)).asInstanceOf[Double]
    val want = (1.0 + 6.0 / 11.0 - 6.0 / 10.0) / 2.0
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")
  }

  test("confusion matrix degenerate single-class input: defined " +
      "fields exact, undefined fields NaN (test_metrics.py:15-121)") {
    import spark.implicits._
    import graft.functions.Metrics
    val df = Seq.fill(4)((1, 0.9)).toDF("y", "p")
    val cm = df.agg(Metrics.confusionMatrix(col("y"), col("p"), 0.5)
      .as("cm")).select("cm.*").head
    def f(n: String): Double = cm.getAs[Double](n)
    assert(cm.getAs[Long]("tp") == 4L && cm.getAs[Long]("fp") == 0L &&
      cm.getAs[Long]("tn") == 0L && cm.getAs[Long]("fn") == 0L)
    assert(f("tpr") == 1.0 && f("precision") == 1.0 && f("f1") == 1.0 &&
      f("accuracy") == 1.0 && f("prevalence") == 1.0)
    // no negatives exist → fpr/tnr/mcc and their derivations are NaN,
    // the reference's nandiv convention — never null
    Seq("fpr", "tnr", "mcc", "npv", "false_omission_rate", "plr",
      "dor", "prevalence_threshold").foreach { n =>
      assert(!cm.isNullAt(cm.fieldIndex(n)) && f(n).isNaN,
        s"$n: expected NaN, got ${cm.get(cm.fieldIndex(n))}")
    }
  }

  test("tie-averaged DCG/NDCG (sklearn ignore_ties=False semantics)") {
    import spark.implicits._
    import graft.ops.MetricOps
    val df = Seq((3, 1.0), (2, 1.0), (3, 0.5)).map { case (r, s) =>
      ("g", r, s) }.toDF("g", "rel", "score")
    val full = MetricOps.ndcgTieAveraged(df, col("rel"), col("score"),
      Seq("g")).head
    // tied block at score 1.0 earns avg rel 2.5 at positions 1 and 2
    assert(math.abs(full.getAs[Double]("dcg") - 5.5773243839286435) < 1e-12)
    assert(math.abs(full.getAs[Double]("ndcg") - 0.9464659496838199) < 1e-12)
    val top2 = MetricOps.ndcgTieAveraged(df, col("rel"), col("score"),
      Seq("g"), k = 2).head
    assert(math.abs(top2.getAs[Double]("dcg") - 4.0773243839286435) < 1e-12)
    assert(math.abs(top2.getAs[Double]("ndcg") - 0.8333333333333333) < 1e-12)
  }

  test("mcc matches sklearn matthews_corrcoef example") {
    import spark.implicits._
    // sklearn docs: y_true=[+1,+1,+1,-1], y_pred=[+1,-1,+1,+1] -> -1/3
    val df = Seq((1, 1), (1, 0), (1, 1), (0, 1)).toDF("y", "p")
    val r = df.agg(Metrics.mcc(col("y"), col("p")).as("m")).collect()(0)
    assert(approx(r.getAs[Double]("m"), -1.0 / 3.0, 1e-12))
  }

  test("mad (median center) on a known set") {
    import spark.implicits._
    // x = [1,2,3,4,100]: median 3, |x-3| = [2,1,0,1,97], median = 1
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("x")
      .withColumn("g", lit("a"))
    val r = MetricOps.mad(df, col("x"), Seq("g")).collect()(0)
    assert(approx(r.getAs[Double]("mad"), 1.0))
  }

  test("krippendorffAlpha: hand-computed values, missing-data drop, " +
      "degenerate De -> null") {
    import spark.implicits._
    def alphaOf(rows: Seq[(Long, String)]): org.apache.spark.sql.Row =
      MetricOps.krippendorffAlpha(rows.toDF("u", "v"), col("u"),
        col("v")).collect()(0)
    // {a,a},{b,b}: perfect agreement → α=1
    assert(approx(alphaOf(Seq(1L -> "a", 1L -> "a", 2L -> "b",
      2L -> "b")).getAs[Double]("alpha"), 1.0))
    // {a,a},{a,b}: Do=0.5, De=(16−10)/12=0.5 → α=0 (chance-level)
    assert(approx(alphaOf(Seq(1L -> "a", 1L -> "a", 2L -> "a",
      2L -> "b")).getAs[Double]("alpha"), 0.0))
    // {a,b},{a,b}: Do=1, De=2/3 → α=−0.5 (systematic disagreement)
    assert(approx(alphaOf(Seq(1L -> "a", 1L -> "b", 2L -> "a",
      2L -> "b")).getAs[Double]("alpha"), -0.5))
    // a single-rating unit is dropped (missing data), not counted
    val r = alphaOf(Seq(1L -> "a", 1L -> "a", 2L -> "b", 2L -> "b",
      3L -> "a"))
    assert(r.getAs[Long]("n_units") == 2L &&
      r.getAs[Long]("n_ratings") == 4L)
    // one value corpus-wide: De=0 → null
    assert(alphaOf(Seq(1L -> "a", 1L -> "a")).isNullAt(2))
  }

  test("calibration: hand-computed ECE and Brier") {
    import spark.implicits._
    // group a: p=0.25 on 4 rows, one positive → bin acc == conf,
    // ECE=0; brier = (0.75² + 3·0.25²)/4 = 0.1875
    // group b: p=0.9 twice, both negative → ECE=0.9, brier=0.81
    val df = (Seq((0.25, 1, "a"), (0.25, 0, "a"), (0.25, 0, "a"),
      (0.25, 0, "a")) ++ Seq((0.9, 0, "b"), (0.9, 0, "b")))
      .toDF("p", "y", "g")
    val r = MetricOps.calibration(df, col("y"), col("p"), Seq("g"), 10)
      .orderBy("g").collect()
    assert(r(0).getAs[Long]("n") == 4L)
    assert(approx(r(0).getAs[Double]("ece"), 0.0))
    assert(approx(r(0).getAs[Double]("brier"), 0.1875))
    assert(approx(r(1).getAs[Double]("ece"), 0.9))
    assert(approx(r(1).getAs[Double]("brier"), 0.81))
    // p = 1.0 folds into the top bin (no 11th bin, no null)
    val edge = Seq((1.0, 1, "c")).toDF("p", "y", "g")
    val e = MetricOps.calibration(edge, col("y"), col("p"), Seq("g"), 10)
      .collect()(0)
    assert(approx(e.getAs[Double]("ece"), 0.0))
  }

  test("cohenKappa: textbook 2x2 value, degenerate pe=1 -> null") {
    import spark.implicits._
    // classic: 20 yes/yes, 5 yes/no, 10 no/yes, 15 no/no over 50 →
    // po=0.7, pe=0.5·0.6+0.5·0.4=0.5, κ=0.4
    val rows = Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val df = rows.toDF("r1", "r2").withColumn("g", lit("a"))
    val k = MetricOps.cohenKappa(df, col("r1"), col("r2"), Seq("g"))
      .collect()(0).getAs[Double]("kappa")
    assert(approx(k, 0.4))
    // both raters constant and identical: pe=1 → null (undefined)
    val const = Seq.fill(10)(("x", "x")).toDF("r1", "r2")
      .withColumn("g", lit("a"))
    assert(MetricOps.cohenKappa(const, col("r1"), col("r2"), Seq("g"))
      .collect()(0).isNullAt(1))
  }

  test("cohenKappa: raters with disjoint label sets give kappa = 0, " +
      "not a dropped group (sklearn cohen_kappa_score)") {
    import spark.implicits._
    // group b: rater 1 says x/y, rater 2 says u/v — no shared label, so
    // p_o = 0 and p_e = 0 (each label has a zero marginal on one side)
    val df = (Seq.fill(4)(("a", "yes", "yes")) ++ Seq(("a", "yes", "no"),
      ("a", "no", "no"), ("a", "no", "yes")) ++
      Seq(("b", "x", "u"), ("b", "y", "v"), ("b", "x", "v")))
      .toDF("g", "r1", "r2")
    val k = MetricOps.cohenKappa(df, col("r1"), col("r2"), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("kappa")).toMap
    assert(k.keySet == Set("a", "b"))
    assert(k("b") == 0.0)
    // group a: po = 5/7, pe = (5·5 + 2·2)/49 = 29/49 → κ = 6/20
    assert(approx(k("a"), (5.0 / 7 - 29.0 / 49) / (1 - 29.0 / 49)))
  }

  test("fleissKappa: hand-computed 3-rater value, incomplete items " +
      "dropped") {
    import spark.implicits._
    // item1: a,a,a (Pi=1); item2: a,b,b (Pi=1/3); P̄=2/3;
    // pa=4/6, pb=2/6 → Pe=5/9; κ=(2/3−5/9)/(4/9)=0.25.
    // item3 has only 2 ratings → dropped, n_items stays 2.
    val df = Seq((1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "b")).toDF("item", "cat")
    val r = MetricOps.fleissKappa(df, col("item"), col("cat"), 3)
      .collect()(0)
    assert(r.getAs[Long]("n_items") == 2L)
    assert(approx(r.getAs[Double]("kappa"), 0.25))
  }
}
