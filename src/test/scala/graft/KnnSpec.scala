package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.knn.{KdTree, KnnOps}

class KnnSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  // deterministic pseudo-random points (LCG; no external RNG deps)
  private def points(n: Int, dim: Int, seed: Long): Array[(Long, Array[Double])] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 100.0
    }
    Array.tabulate(n)(i => (i.toLong, Array.fill(dim)(next())))
  }

  private def bruteKnn(data: Array[(Long, Array[Double])], q: Array[Double],
                       k: Int, exclude: Long, metric: String)
      : Array[(Long, Double)] = {
    def d(p: Array[Double]): Double = metric match {
      case "l1"  => p.zip(q).map { case (a, b) => math.abs(a - b) }.sum
      case "inf" => p.zip(q).map { case (a, b) => math.abs(a - b) }.max
      case _     => p.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    data.filter(_._1 != exclude).map { case (id, p) => (id, d(p)) }
      .sortBy(t => (t._2, t._1)).take(k)
  }

  test("kd-tree knn matches brute force for every metric") {
    val data = points(500, 3, 42L)
    for (metric <- Seq("l2", "sql2", "l1", "inf")) {
      val tree = KdTree.build(data, metric)
      for (qi <- 0 until 50) {
        val q = data(qi)._2
        val got = tree.knn(q, 7, exclude = qi.toLong)
        val exp = bruteKnn(data, q, 7, qi.toLong, metric)
        assert(got.map(_._1).toSeq == exp.map(_._1).toSeq,
          s"metric=$metric query=$qi")
        got.zip(exp).foreach { case ((_, gd), (_, ed)) =>
          assert(math.abs(gd - ed) < 1e-12)
        }
      }
    }
  }

  test("kd-tree knn breaks distance ties by ascending id") {
    // 4 identical points + distinct ones: ids 0-3 all at origin
    val dup = Array.tabulate(8)(i =>
      (i.toLong, if (i < 4) Array(0.0, 0.0) else Array(i * 10.0, 0.0)))
    val tree = KdTree.build(dup, "l2")
    val nn = tree.knn(Array(0.0, 0.0), 3, exclude = 0L)
    assert(nn.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("range query + count match brute force and are (dist,id)-sorted") {
    val data = points(400, 2, 7L)
    val tree = KdTree.build(data, "l2")
    for (qi <- 0 until 30) {
      val q = data(qi)._2
      val r2 = 15.0 * 15.0
      val got = tree.rangeQuery(q, r2, exclude = qi.toLong)
      val exp = data.filter(_._1 != qi.toLong)
        .map { case (id, p) =>
          (id, p.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .filter(_._2 <= r2).sortBy(t => (t._2, t._1))
      assert(got.map(_._1).toSeq == exp.map(_._1).toSeq)
      assert(tree.countRange(q, r2, exclude = qi.toLong) == exp.length)
    }
  }

  test("maxBound caps the search radius") {
    val data = points(200, 2, 99L)
    val tree = KdTree.build(data, "sql2")
    val q = data(0)._2
    val capped = tree.knn(q, 50, exclude = 0L, maxBound = 100.0)
    assert(capped.forall(_._2 <= 100.0))
    val full = tree.knn(q, 50, exclude = 0L)
    assert(full.count(_._2 <= 100.0) == capped.length)
  }

  test("knnPtwise DataFrame op: neighbors of a known grid") {
    import spark.implicits._
    // 1-D line: ids 0..9 at x=0,1,...,9 → neighbors of 5 with k=2: 4,6
    val df = (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val out = KnnOps.knnPtwise(df, col("id"), Seq(col("x")), 2)
      .filter(col("id") === 5L)
      .select(col("knn_ids")).head.getSeq[Long](0)
    assert(out.toSet == Set(4L, 6L))
    assert(out == Seq(4L, 5L).map(_ => out.head) || out.sorted == Seq(4L, 6L))
  }

  test("radiusPtwiseNullSafe: parity on clean rows, null rows get null") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(0.0)), (1L, Some(1.0)), (2L, Some(2.0)),
      (3L, None), (4L, Some(10.0))).toDF("id", "x")
    val clean = df.filter(col("x").isNotNull)
    val expect = KnnOps.radiusPtwise(clean, col("id"), Seq(col("x")), 1.5)
      .select(col("id"), col("radius_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = KnnOps.radiusPtwiseNullSafe(df, col("id"), Seq(col("x")),
        1.5)
      .select(col("id"), col("radius_ids")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(3L) == null) // null feature → null output, no crash
    expect.foreach { case (id, ids) => assert(got(id) == ids) }
  }

  test("radius maxNeighbors cap keeps the nearest-n prefix; nbCnt is " +
      "the count-only twin (docs/CAPS.md output-semantics guard)") {
    import spark.implicits._
    // a dense line: radius 5 around each point catches nearly everyone
    val df = (0L to 20L).map(i => (i, i.toDouble)).toDF("id", "x")
    val full = KnnOps.radiusPtwise(df, col("id"), Seq(col("x")), 5.0)
      .select(col("id"), col("radius_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val capped = KnnOps.radiusPtwise(df, col("id"), Seq(col("x")), 5.0,
        maxNeighbors = 3)
      .select(col("id"), col("radius_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    full.foreach { case (id, ids) =>
      // cap = deterministic nearest-first prefix of the unbounded list
      assert(capped(id) == ids.take(3), s"id $id")
      assert(capped(id).length <= 3)
    }
    // null-safe variant honors the same cap
    val cappedNs = KnnOps.radiusPtwiseNullSafe(df, col("id"),
        Seq(col("x")), 5.0, maxNeighbors = 3)
      .select(col("id"), col("radius_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    full.foreach { case (id, ids) => assert(cappedNs(id) == ids.take(3)) }
    // count-only mode: nbCnt equals the UNBOUNDED list length (the cap
    // never changes counts — it only bounds materialization)
    val cnts = KnnOps.nbCnt(df, col("id"), Seq(col("x")), 5.0)
      .select(col("id"), col("nb_cnt")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    full.foreach { case (id, ids) => assert(cnts(id) == ids.length) }
  }

  test("withinDistFrom cosine and haversine metrics") {
    import spark.implicits._
    val df = Seq((1.0, 0.0), (0.0, 1.0), (1.0, 1.0)).toDF("x", "y")
    // cosine distance to (1,0): 0, 1, 1-1/sqrt(2)
    val cos = df.withColumn("w", KnnOps.withinDistFrom(
        Seq(col("x"), col("y")), Seq(1.0, 0.0), 0.5, "cosine"))
      .collect().map(_.getAs[Boolean]("w"))
    assert(cos.toSeq == Seq(true, false, true))
    // Paris within 400 km of London, Berlin not
    val cities = Seq((48.8566, 2.3522), (52.52, 13.405)).toDF("lat", "lon")
    val hav = cities.withColumn("w", KnnOps.withinDistFrom(
        Seq(col("lat"), col("lon")), Seq(51.5074, -0.1278), 400.0,
        "haversine"))
      .collect().map(_.getAs[Boolean]("w"))
    assert(hav.toSeq == Seq(true, false))
  }

  test("knnAvg equals hand mean; distFromKthNb on grid") {
    import spark.implicits._
    val df = (0 until 10).map(i => (i.toLong, i.toDouble, i * 2.0))
      .toDF("id", "x", "t")
    val avg5 = KnnOps.knnAvg(df, col("id"), Seq(col("x")), col("t"), 2)
      .filter(col("id") === 5L).select("knn_avg").head.getDouble(0)
    assert(avg5 == (8.0 + 12.0) / 2)  // neighbors 4 and 6 → t=8,12
    val kth = KnnOps.distFromKthNb(df, col("id"), Seq(col("x")), 3)
      .filter(col("id") === 0L).select("kth_dist").head.getDouble(0)
    assert(kth == 3.0)
  }

  test("knnJoin matches brute force across frames, keeps unmatched") {
    import spark.implicits._
    val lData = points(60, 2, 7L)
    val rData = points(40, 2, 99L)
    val left = lData.map { case (id, p) => (id, p(0), p(1)) }.toSeq
      .toDF("id", "x", "y")
    val right = rData.map { case (id, p) => (id + 1000L, p(0), p(1)) }
      .toSeq.toDF("id", "x", "y")
    val got = KnnOps.knnJoin(left, col("id"), Seq(col("x"), col("y")),
        right, col("id"), Seq(col("x"), col("y")), 3)
      .select(col("id"), col("nb_id"), col("rk"), col("nb_dist"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    assert(got.size == 60 * 3)
    val rShift = rData.map { case (id, p) => (id + 1000L, p) }
    lData.foreach { case (qid, q) =>
      val exp = bruteKnn(rShift, q, 3, exclude = -1L, "l2")
      exp.zipWithIndex.foreach { case ((eid, ed2), i) =>
        val (gid, gd) = got((qid, i + 1))
        assert(gid == eid, s"q=$qid rk=${i + 1}")
        assert(math.abs(gd - math.sqrt(ed2)) < 1e-12)
      }
    }
    // no self-exclusion across frames: identical point → dist 0
    val l1 = Seq((1L, 5.0)).toDF("id", "x")
    val r1 = Seq((1L, 5.0)).toDF("id", "x")
    val self = KnnOps.knnJoin(l1, col("id"), Seq(col("x")),
      r1, col("id"), Seq(col("x")), 1).select("nb_dist").head.getDouble(0)
    assert(self == 0.0)
    // empty right side → left row survives with null neighbor
    val r0 = Seq.empty[(Long, Double)].toDF("id", "x")
    val empt = KnnOps.knnJoin(l1, col("id"), Seq(col("x")),
      r0, col("id"), Seq(col("x")), 1).select("nb_id").collect()
    assert(empt.length == 1 && empt(0).isNullAt(0))
  }

  test("exact kd-tree -> LSH handoff: the approximate path answers the " +
    "same query with bounded recall loss (SURVEY 2.10 exact+approx " +
    "same-API promise)") {
    import spark.implicits._
    // 20 deterministic unit-vector clusters x 10 members in 6-D: for
    // unit vectors cosine order == l2 order, so the kd-tree (l2) and
    // the LSH cosine path answer the SAME top-k question
    val dim = 6
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val pts = (0 until 200).map { i =>
      val c = i / 10
      val raw = Array.tabulate(dim)(d =>
        math.sin(c * 2.39996 + d * 1.7) + 0.05 * math.cos(i * 0.91 + d))
      (i.toLong, unit(raw).toSeq)
    }
    val df = pts.toDF("id", "vec")
    val feats = (0 until dim).map(d => element_at(col("vec"), d + 1))
    val k = 5
    val exact = KnnOps.knnPtwise(df, col("id"), feats, k)
      .select(col("id"), explode(col("knn_ids")).as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.sim.SimOps.lshCosineTopK(df, k,
        nPlanes = 8, tables = 6)
      .select(col("qid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 200 * k)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH recall $recall below the 0.7 bound")
    // and the approximate result never invents a better-than-exact
    // neighbor: every returned cosine is a true pairwise cosine <= 1
    val cosOk = graft.sim.SimOps.lshCosineTopK(df, k,
        nPlanes = 8, tables = 6)
      .agg(org.apache.spark.sql.functions.bool_and(
        col("cos") <= 1.0 + 1e-12 && col("cos") >= -1.0 - 1e-12))
      .head.getBoolean(0)
    assert(cosOk)
  }

  test("knnPtwise rejects dataMask together with refTree") {
    // the mask filters the tree build; a given tree is already built,
    // so the pair used to drop the mask without a word
    import spark.implicits._
    val df = points(50, 2, 3L).toSeq
      .map { case (id, f) => (id, f(0), f(1)) }.toDF("id", "f1", "f2")
    val fs = Seq(col("f1"), col("f2"))
    val tree = Some(KnnOps.buildRefTree(df, col("id"), fs))
    val e = intercept[IllegalArgumentException] {
      KnnOps.knnPtwise(df, col("id"), fs, 2,
        dataMask = Some(col("id") % 2 === 0), refTree = tree)
    }
    assert(e.getMessage.contains("dataMask"))
    intercept[IllegalArgumentException] {
      KnnOps.knnFreqCnt(df, col("id"), fs, 2,
        dataMask = Some(col("id") % 2 === 0), refTree = tree)
    }
    // each alone is still accepted
    assert(KnnOps.knnPtwise(df, col("id"), fs, 2, refTree = tree)
      .count() == 50)
    assert(KnnOps.knnPtwise(df, col("id"), fs, 2,
      dataMask = Some(col("id") % 2 === 0)).count() == 50)
  }

  test("shared refTree gives results identical to per-op tree builds") {
    // r17: multi-leg queries build the broadcast kd-tree once via
    // buildRefTree and hand it to every op — pin that the shared-tree
    // path is indistinguishable from the per-op collectTree path
    import spark.implicits._
    val df = points(300, 2, 7L).toSeq
      .map { case (id, f) => (id, f(0), f(1), (id % 13).toDouble) }
      .toDF("id", "f1", "f2", "t")
    val fs = Seq(col("f1"), col("f2"))
    val tree = Some(KnnOps.buildRefTree(df, col("id"), fs))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(KnnOps.knnPtwise(df, col("id"), fs, 4, refTree = tree))
      .sameElements(rows(KnnOps.knnPtwise(df, col("id"), fs, 4))))
    assert(rows(KnnOps.distFromKthNb(df, col("id"), fs, 3,
        refTree = tree))
      .sameElements(rows(KnnOps.distFromKthNb(df, col("id"), fs, 3))))
    assert(rows(KnnOps.knnAvg(df, col("id"), fs, col("t"), 5,
        refTree = tree))
      .sameElements(rows(KnnOps.knnAvg(df, col("id"), fs, col("t"), 5))))
    assert(rows(KnnOps.nbCnt(df, col("id"), fs, 9.0, refTree = tree))
      .sameElements(rows(KnnOps.nbCnt(df, col("id"), fs, 9.0))))
    assert(rows(KnnOps.radiusPtwise(df, col("id"), fs, 9.0,
        refTree = tree))
      .sameElements(rows(KnnOps.radiusPtwise(df, col("id"), fs, 9.0))))
  }
}
