package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Stats
import graft.ops.{MetricOps, StatOps}

/** The former formulations of three operators, kept only to pin that
  * their one-pass rewrites return the same results. */
object FormerFormulations {

  /** Stats.normalTest as inlined Column algebra (generates about 1.2 MB
    * of Java, which Janino rejects; Spark then interprets it). */
  def normalTest(x: Column): Column = {
    val n = count(x).cast("double")
    val m = avg(x)
    val s2 = avg(x * x)
    val s3 = avg(x * x * x)
    val s4 = avg(x * x * x * x)
    val m2 = s2 - m * m
    val m3 = s3 - m * s2 * 3.0 + m * m * m * 2.0
    val m4 = s4 - m * s3 * 4.0 + m * m * s2 * 6.0 - m * m * m * m * 3.0
    val g1 = m3 / pow(m2, 1.5)
    val b2 = m4 / (m2 * m2)
    val y = g1 * sqrt((n + 1.0) * (n + 3.0) / ((n - 2.0) * 6.0))
    val beta2 = (n * n + n * 27.0 - 70.0) * (n + 1.0) * (n + 3.0) * 3.0 /
      ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    val w2 = sqrt((beta2 - 1.0) * 2.0) - 1.0
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1.0))
    val ya = y / alpha
    val z1 = delta * log(ya + sqrt(ya * ya + 1.0))
    val eb2 = (n - 1.0) * 3.0 / (n + 1.0)
    val vb2 = n * (n - 2.0) * (n - 3.0) * 24.0 /
      ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    val xk = (b2 - eb2) / sqrt(vb2)
    val sqrtBeta1 = (n * n - n * 5.0 + 2.0) * 6.0 / ((n + 7.0) * (n + 9.0)) *
      sqrt((n + 3.0) * (n + 5.0) * 6.0 / (n * (n - 2.0) * (n - 3.0)))
    val a = lit(8.0) / sqrtBeta1 *
      (lit(2.0) / sqrtBeta1 + sqrt(lit(4.0) / (sqrtBeta1 * sqrtBeta1) + 1.0)) +
      6.0
    val inner = (lit(1.0) - lit(2.0) / a) /
      (xk * sqrt(lit(2.0) / (a - 4.0)) + 1.0)
    val cbrt = signum(inner) * pow(abs(inner), 1.0 / 3.0)
    val z2 = ((lit(1.0) - lit(2.0) / (a * 9.0)) - cbrt) /
      sqrt(lit(2.0) / (a * 9.0))
    val k2 = z1 * z1 + z2 * z2
    struct(k2.as("statistic"), exp(k2 * -0.5).as("pvalue"))
  }

  /** Grouped StatOps.spearman with the two-window average rank:
    * rank over (g order by c) plus (tie count over (g, c) − 1) / 2,
    * over the rows whose x and y are both non-null and non-NaN (the
    * pairwise deletion StatOps.spearman applies before ranking). */
  def spearmanTwoWindow(df: DataFrame, x: Column, y: Column,
                        groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as("_x")
      :+ y.cast("double").as("_y"): _*)
      .where(col("_x").isNotNull && !isnan(col("_x")) &&
        col("_y").isNotNull && !isnan(col("_y")))
    def avgRank(c: String): Column = {
      val wr = Window.partitionBy(gc: _*).orderBy(col(c))
      val wt = Window.partitionBy(gc :+ col(c): _*)
      rank().over(wr) + (count(lit(1)).over(wt) - 1.0) / 2.0
    }
    t.withColumn("_rx", avgRank("_x")).withColumn("_ry", avgRank("_y"))
      .groupBy(gc: _*).agg(corr(col("_rx"), col("_ry")).as("spearman"))
  }
}

class OnePassParitySpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def sameDouble(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (p: Double, q: Double) =>
      java.lang.Double.doubleToLongBits(p) == java.lang.Double.doubleToLongBits(q)
    case _ => false
  }

  private def close(a: Double, b: Double, tol: Double = 1e-12): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol

  test("normalTest scalar finish equals the former Column algebra " +
      "bit for bit, n in {0,1,2,3,4,8,200}, with nulls and NaN") {
    val rng = new scala.util.Random(17)
    def gauss(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(rng.nextGaussian() * 3.0 + 1.0))
    def ties(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(math.round(rng.nextGaussian() * 4) / 2.0))
    val nul: java.lang.Double = null
    val groups: Seq[(String, Seq[java.lang.Double])] = Seq(
      "n0" -> Seq(nul, nul),
      "n1" -> (gauss(1) :+ nul),
      "n2" -> (nul +: gauss(2)),
      "n3" -> gauss(3),
      "n4" -> (gauss(4) :+ nul),
      "n8" -> gauss(8),
      "n8ties" -> ties(8),
      "n200" -> (gauss(100) ++ Seq(nul, nul) ++ gauss(100)),
      "n200skew" -> Seq.fill(200)(java.lang.Double.valueOf(
        math.exp(rng.nextGaussian()))),
      "n200ties" -> ties(200),
      "nan8" -> (gauss(7) :+ java.lang.Double.valueOf(Double.NaN)),
      "const8" -> Seq.fill(8)(java.lang.Double.valueOf(2.5)))
    // one partition in both sessions, so both sum the moments in the
    // same order and only the finish can differ
    val rows = groups.flatMap { case (g, xs) => xs.map(x => Row(g, x)) }
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("x", DoubleType)))
    def run(s: SparkSession, nt: Column => Column) =
      s.createDataFrame(rows.asJava, schema).coalesce(1)
        .groupBy("g").agg(nt(col("x")).as("nt"))
        .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    val got = run(spark, Stats.normalTest)
    // the former tree: interpreted outright instead of after a failed
    // 1.2 MB compile; Spark evaluates it with the same math either way
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val want = run(interp, FormerFormulations.normalTest)

    assert(got.keySet == groups.map(_._1).toSet && want.keySet == got.keySet)
    for ((g, w) <- want) {
      val o = got(g)
      assert(o != null, s"$g: struct itself is null")
      for (i <- 0 to 1)
        assert(sameDouble(o.get(i), w.get(i)),
          s"$g field $i: got ${o.get(i)} want ${w.get(i)}")
    }
    for (g <- Seq("n0", "n1", "n2", "n3", "const8"))
      assert(got(g).isNullAt(0) && got(g).isNullAt(1), g)
    for (g <- Seq("n8", "n8ties", "n200", "n200skew", "n200ties"))
      assert(!got(g).getDouble(0).isNaN && !got(g).isNullAt(1), g)
    // n = 4 takes sqrt of a negative (NaN, not null), as does a NaN input
    for (g <- Seq("n4", "nan8")) assert(got(g).getDouble(0).isNaN, g)
  }

  private def tieHeavy(): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    def v(levels: Int): java.lang.Double = rng.nextInt(20) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => -0.0
      case _ => rng.nextInt(levels).toDouble
    }
    (0 until 600).map { i =>
      val g = s"g${i % 4}"
      val levels = Seq(3, 5, 40, 1)(i % 4)
      (g, v(levels), v(levels + 2))
    }.toDF("g", "x", "y").repartition(4)
  }

  test("grouped spearman with one window per column equals the " +
      "two-window average rank on tie-heavy groups with null and NaN") {
    val df = tieHeavy()
    val got = StatOps.spearman(df, col("x"), col("y"), Seq("g")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("spearman")).toMap
    val want = FormerFormulations.spearmanTwoWindow(df, col("x"), col("y"),
      Seq("g")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("spearman")).toMap
    assert(got.keySet == Set("g0", "g1", "g2", "g3"))
    assert(got.keySet == want.keySet)
    for ((g, w) <- want)
      assert(close(got(g), w), s"$g: got ${got(g)} want $w")
    // one sort and window per column, where the former plan had four
    val plan = StatOps.spearman(df, col("x"), col("y"), Seq("g"))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 2, plan.treeString)
  }

  private def classes(): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    (0 until 900).map { i =>
      // a null group key is a group of its own (the former per-class
      // join on the keys dropped it); g2 never sees class 2, so its
      // one-vs-rest AUC for that class is NaN
      val g = if (i % 10 == 9) null else s"g${i % 3}"
      val y = if (g == "g2") rng.nextInt(2) else rng.nextInt(3)
      val p = Array.fill(3)(math.round(rng.nextDouble() * 20) / 20.0)
      (g, y, p.toSeq)
    }.toDF("g", "y", "probs").repartition(3)
  }

  private def expectedMulti(df: DataFrame, groupNames: Seq[String],
                            weighted: Boolean): Map[Seq[Any], Double] = {
    val perClass = (0 until 3).map { k =>
      val withK = df.withColumn("yk", (col("y") === k).cast("int"))
        .withColumn("sk", element_at(col("probs"), k + 1))
      val auc = MetricOps.rocAucNamed(withK, col("yk"), col("sk"),
          groupNames, "auc").collect()
        .map(r => groupNames.map(r.getAs[Any]) -> r.getAs[Double]("auc")).toMap
      val w = withK.groupBy(groupNames.map(col): _*)
        .agg(sum("yk").cast("double").as("w")).collect()
        .map(r => groupNames.map(r.getAs[Any]) -> r.getAs[Double]("w")).toMap
      auc.map { case (g, a) => g -> (a, w(g)) }
    }
    perClass.head.keySet.map { g =>
      val aw = perClass.map(_(g))
      val ws = aw.map { case (_, w) => if (weighted) w else 1.0 }
      g -> aw.zip(ws).map { case ((a, _), w) => a * w }.sum / ws.sum
    }.toMap
  }

  test("multiRocAuc in one stacked pass equals the mean of per-class " +
      "rocAucNamed, weighted and unweighted, grouped and ungrouped") {
    val df = classes()
    for (groupNames <- Seq(Seq("g"), Nil); weighted <- Seq(false, true)) {
      val got = MetricOps.multiRocAuc(df, col("y"), col("probs"), 3,
          groupNames, weighted).collect()
        .map(r => groupNames.map(r.getAs[Any]) ->
          r.getAs[Double]("multi_roc_auc")).toMap
      val want = expectedMulti(df, groupNames, weighted)
      assert(got.keySet == want.keySet, s"$groupNames weighted=$weighted")
      if (groupNames.nonEmpty) assert(got.contains(Seq(null)))
      for ((g, w) <- want)
        assert(close(got(g), w),
          s"$groupNames weighted=$weighted $g: got ${got(g)} want $w")
    }
    // the class missing from g2 makes its unweighted mean NaN; weighting
    // by prevalence multiplies that NaN by 0, which stays NaN
    val g2 = MetricOps.multiRocAuc(df, col("y"), col("probs"), 3, Seq("g"))
      .where(col("g") === "g2").collect()
    assert(g2.length == 1 && g2(0).getAs[Double]("multi_roc_auc").isNaN)
    // one scan of the input, where the former plan had two per class
    val plan = MetricOps.multiRocAuc(df, col("y"), col("probs"), 3, Seq("g"))
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, plan.treeString)
  }
}
