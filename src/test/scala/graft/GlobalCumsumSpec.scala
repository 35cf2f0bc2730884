package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial property coverage for [[graft.util.GlobalCumsum]] — the
  * range-partition + per-partition window + broadcast-offset primitive
  * that now underpins exact ROC/TPR-FPR, exact quantiles and the epoch
  * shuffle. AggLawsSpec covers the aggregator algebra; this spec
  * attacks the OFFSET algebra: ScalaCheck-generated key sets
  * (duplicate-heavy pools, skewed clusters, adversarial spacing) ×
  * partition counts 1..64, asserting EXACT equality with a
  * single-threaded driver prefix sum. Integer weights keep double
  * sums exact (< 2^53), so equality is ==, not a tolerance. */
class GlobalCumsumSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  // key generators: the range partitioner's weak spots are duplicate
  // runs (all equal keys MUST land in one partition), heavy skew (one
  // cluster swallows most rows → empty partitions elsewhere), and
  // near-identical doubles (bound sampling resolution)
  private val keyGens: Seq[(String, Gen[Double])] = Seq(
    "uniform" -> Gen.choose(-1e6, 1e6),
    "tiny-pool" -> Gen.oneOf(Seq(-2.0, -1.0, 0.0, 1.0, 2.0)),
    "skewed-cluster" -> Gen.frequency(
      9 -> Gen.choose(0.0, 1e-6), 1 -> Gen.choose(-1e6, 1e6)),
    "adversarial-spacing" -> Gen.frequency(
      1 -> Gen.const(Double.MinValue), 1 -> Gen.const(Double.MaxValue),
      4 -> Gen.choose(-1.0, 1.0).map(v => v * 1e-12),
      4 -> Gen.choose(-1e15, 1e15)))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("running sums match a driver prefix sum exactly for every key " +
      "shape x partition count (caller contract: distinct keys)") {
    import spark.implicits._
    var cases = 0
    for {
      (shapeName, kg) <- keyGens
      parts <- Seq(1, 2, 3, 7, 16, 64)
    } {
      val seed = shapeName.hashCode * 1000L + parts
      val n = 1 + math.abs(sample(Gen.choose(0, 400), seed))
      val raw = (0 until n).map(i =>
        (sample(kg, seed + i), 1L + sample(Gen.choose(0L, 9L), seed - i)))
      val df = raw.toDF("k", "w")
      // caller contract: compress duplicate keys first (every call
      // site groups to distinct thresholds) — duplicate-HEAVY inputs
      // exercise the partitioner via the weight mass instead
      val dist = df.groupBy("k").agg(sum("w").as("w"))
      for (asc <- Seq(true, false)) {
        val out = graft.util.Release.scopedValue(spark) {
          graft.util.GlobalCumsum.runningSums(dist, col("k"), asc,
              Seq(col("w") -> "cum", col("w") * 2 -> "cum2"),
              numParts = Some(parts))
            .select(col("k"), col("cum"), col("cum2"))
            .collect()
        }.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(t => if (asc) t._1 else -t._1)
        // driver reference: sequential prefix sum over sorted distinct
        val ref = raw.groupBy(_._1).map { case (k, vs) =>
          (k, vs.map(_._2).sum)
        }.toSeq.sortBy(t => if (asc) t._1 else -t._1)
        assert(out.map(_._1).toSeq == ref.map(_._1),
          s"key order diverged [$shapeName p=$parts asc=$asc]")
        var acc = 0L
        ref.zip(out).foreach { case ((k, w), (_, cum, cum2)) =>
          acc += w
          assert(cum == acc.toDouble && cum2 == 2.0 * acc,
            s"cumsum mismatch at k=$k [$shapeName p=$parts asc=$asc]: " +
              s"got $cum/$cum2 want $acc/${2 * acc}")
        }
        cases += 1
      }
    }
    assert(cases == keyGens.size * 6 * 2)
  }

  test("runningSumsMulti over a stacked (group, key) order equals " +
      "per-group runningSums exactly (the r16 corrTable fusion)") {
    import spark.implicits._
    val seed = 20260818L
    val groups = 0 until 3
    val raw = groups.flatMap { g =>
      (0 until 120).map { i =>
        (g, sample(Gen.oneOf(Seq(-2.0, 0.0, 1.5, 7.0, 1e-9)),
          seed + g * 1000 + i),
          1L + sample(Gen.choose(0L, 5L), seed - g * 1000 - i))
      }
    }
    val dist = raw.toDF("g", "k", "w").groupBy("g", "k")
      .agg(sum("w").as("w"))
    for (parts <- Seq(1, 3, 16)) {
      val fused = graft.util.Release.scopedValue(spark) {
        graft.util.GlobalCumsum.runningSumsMulti(dist,
            Seq(col("g"), col("k")), ascending = true,
            Seq(col("w") -> "cum"), numParts = Some(parts))
          .select("g", "k", "cum").collect()
      }.map(r => ((r.getInt(0), r.getDouble(1)), r.getDouble(2))).toMap
      // reference: per-group single-order runningSums + the exclusive
      // prefix of earlier groups' totals (the fusion's base algebra)
      var base = 0.0
      groups.foreach { g =>
        val one = graft.util.Release.scopedValue(spark) {
          graft.util.GlobalCumsum.runningSums(
              dist.filter(col("g") === g), col("k"), ascending = true,
              Seq(col("w") -> "cum"), numParts = Some(parts))
            .select("k", "cum").collect()
        }.map(r => (r.getDouble(0), r.getDouble(1)))
        one.foreach { case (k, cum) =>
          assert(fused((g, k)) == cum + base,
            s"fused cum diverged at g=$g k=$k parts=$parts")
        }
        base += one.map(_._2).max
      }
    }
  }

  test("runningSumsBy under a constant key equals the unkeyed kernel " +
      "exactly: running sums and totals, both orders") {
    import spark.implicits._
    val seed = 20261018L
    val raw = (0 until 300).map(i =>
      (sample(Gen.choose(-1e6, 1e6), seed + i),
        sample(Gen.choose(0L, 9L), seed - i)))
    val dist = raw.toDF("k", "w").groupBy("k").agg(sum("w").as("w"))
      .withColumn("g", lit("all"))
    for (asc <- Seq(true, false)) {
      def run(groups: Seq[org.apache.spark.sql.Column]) =
        graft.util.Release.scopedValue(spark) {
          graft.util.GlobalCumsum.runningSumsBy(dist, groups, col("k"),
              asc, Seq(col("w") -> "cum", lit(1L) -> "rk"),
              Seq(col("w") -> "tot"))
            .select(col("k"), col("cum").cast("double"),
              col("rk").cast("double"), col("tot").cast("double"))
            .collect()
        }.map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2),
          r.getDouble(3)))).toMap
      val keyed = run(Seq(col("g")))
      val unkeyed = run(Nil)
      assert(keyed.size == dist.count() && keyed == unkeyed,
        s"asc=$asc: keyed and unkeyed running sums differ")
      val total = raw.map(_._2).sum.toDouble
      assert(unkeyed.values.forall(_._3 == total))
    }
  }

  test("single row, single partition, and empty frame edges") {
    import spark.implicits._
    val one = Seq((5.0, 3L)).toDF("k", "w")
    val r = graft.util.Release.scopedValue(spark) {
      graft.util.GlobalCumsum.runningSums(one, col("k"),
        ascending = true, Seq(col("w") -> "cum"), numParts = Some(64))
        .select("cum").collect()
    }
    assert(r.map(_.getDouble(0)).toSeq == Seq(3.0))
    val empty = Seq.empty[(Double, Long)].toDF("k", "w")
    val e = graft.util.Release.scopedValue(spark) {
      graft.util.GlobalCumsum.runningSums(empty, col("k"),
        ascending = true, Seq(col("w") -> "cum"), numParts = Some(8))
        .collect()
    }
    assert(e.isEmpty)
  }
}
