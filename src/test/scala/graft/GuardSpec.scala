package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One spec per cap in docs/CAPS.md (the caps not already pinned by an
  * operator-family spec): every LOUD cap must fail with a message that
  * names the cap AND the remedy/distributed alternative, and the
  * FALLBACK caps must produce result-equivalent output through the
  * distributed path when forced to 0. */
class GuardSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def withProp[A](k: String, v: String)(f: => A): A = {
    System.setProperty(k, v)
    try f finally System.clearProperty(k)
  }

  private def rootMessage(t: Throwable): String = {
    var c: Throwable = t
    val sb = new StringBuilder()
    while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
    sb.toString
  }

  test("maxSeriesLen: cappedSeries raises past the cap, names the knob " +
      "and the remedy") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0, 3.0, 4.0, 5.0)).toDF("xs")
    val e = intercept[Exception] {
      df.select(graft.util.Guard.cappedSeries(col("xs"), "testOp", cap = 3))
        .collect()
    }
    val m = rootMessage(e)
    assert(m.contains("maxSeriesLen") && m.contains("split the group"))
    // happy path under the cap is a pass-through
    assert(df.select(graft.util.Guard.cappedSeries(col("xs"), "t", 10))
      .head.getSeq[Double](0).size == 5)
  }

  test("maxFitCardinality: cappedDistinct fails loud, names the knob " +
      "and the bucketing remedy") {
    import spark.implicits._
    val df = Seq("a", "b", "c", "d", "e").toDF("c")
    val e = intercept[Exception] {
      graft.util.Guard.cappedDistinct(df, "c", "testOp", cap = 2)
    }
    assert(e.getMessage.contains("maxFitCardinality") &&
      e.getMessage.contains("Reduce cardinality"))
  }

  test("maxKnnRef: broadcast kd-tree refuses oversized reference sets " +
      "and points at the LSH/IVF alternatives") {
    import spark.implicits._
    val df = (1 to 5).map(i => (i.toLong, i.toDouble, i * 2.0))
      .toDF("id", "x", "y")
    val e = intercept[Exception] {
      withProp("graft.maxKnnRef", "2") {
        graft.knn.KnnOps.knnPtwise(df, col("id"),
          Seq(col("x"), col("y")), 2).collect()
      }
    }
    val m = rootMessage(e)
    assert(m.contains("exceeds 2 rows") && m.contains("graft.sim.SimOps"))
  }

  test("queryCap: cosineTopK refuses oversized query frames and points " +
      "at pre-filtering") {
    import spark.implicits._
    val q = (1 to 4).map(i => (i.toLong, Seq(1.0f, 0.0f)))
      .toDF("id", "vec")
    // the exact threshold join shares the cap and its collect
    val searches = Seq[(String, () => Any)](
      "cosineTopK" -> (() => graft.sim.SimOps.cosineTopK(q, q, 1,
        queryCap = 2L)),
      "cosineThresholdJoin" -> (() => graft.sim.SimOps
        .cosineThresholdJoin(q, q, 0.5, queryCap = 2L)))
    for ((op, run) <- searches) {
      val e = intercept[Exception](run())
      assert(e.getMessage.contains(s"$op: ") &&
        e.getMessage.contains("queryCap=2") &&
        e.getMessage.contains("Pre-filter"), e.getMessage)
    }
  }

  test("maxKnnRef: knnAvg refuses an oversized target frame BEFORE " +
      "collecting it (cap-order hygiene, r12 verdict #4)") {
    import spark.implicits._
    val df = (1 to 5).map(i => (i.toLong, i.toDouble, i * 2.0, i * 1.0))
      .toDF("id", "x", "y", "t")
    val e = intercept[Exception] {
      withProp("graft.maxKnnRef", "2") {
        graft.knn.KnnOps.knnAvg(df, col("id"),
          Seq(col("x"), col("y")), col("t"), 2).collect()
      }
    }
    val m = rootMessage(e)
    assert(m.contains("target frame exceeds 2 rows") &&
      m.contains("graft.sim.SimOps"), m)
  }

  test("queryCap: both IVF paths refuse oversized query frames through " +
      "the single capped collect") {
    import spark.implicits._
    val frame = (1 to 4).map(i =>
      (i.toLong, Seq(i.toDouble, 1.0))).toDF("id", "vec")
    val e1 = intercept[Exception] {
      graft.sim.SimOps.ivfCosineTopK(frame, frame, 1, queryCap = 2L)
    }
    assert(e1.getMessage.contains("ivfCosineTopK: ") &&
      e1.getMessage.contains("queryCap=2") &&
      e1.getMessage.contains("Pre-filter"), e1.getMessage)
    // PQ search (the same 1M default) shares the capped collect
    val cb = graft.sim.PqOps.trainPq(frame, m = 1, ksub = 2)
    val e3 = intercept[Exception] {
      graft.sim.PqOps.pqCosineTopK(frame, graft.sim.PqOps.pqEncode(frame,
        cb), cb, 1, queryCap = 2L)
    }
    assert(e3.getMessage.contains("pqCosineTopK: ") &&
      e3.getMessage.contains("queryCap=2") &&
      e3.getMessage.contains("Pre-filter"), e3.getMessage)
    // the persisted-index path funnels through the SAME capped collect
    // (it used to collect query vectors for probe cells FIRST, ahead
    // of the cap — r12 verdict #4)
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_guard_ivf_idx"
    val idx = graft.sim.SimOps.buildIvfIndex(frame, nCells = 2)
    graft.sim.SimOps.writeIvfPartitioned(frame, idx, s"$root/corpus")
    val e2 = intercept[Exception] {
      graft.sim.SimOps.ivfCosineTopKIndexed(frame, s"$root/corpus",
        idx, 1, queryCap = 2L)
    }
    assert(e2.getMessage.contains("ivfCosineTopKIndexed: ") &&
      e2.getMessage.contains("queryCap=2"), e2.getMessage)
  }

  test("compileLm maxEntries: broadcast LM refuses oversized gram " +
      "tables with the narrower-corpus remedy") {
    import spark.implicits._
    val train = Seq("a b c d e f g h").toDF("t")
    val e = intercept[Exception] {
      graft.text.LmOps.compileLm(train, col("t"), maxEntries = 2L)
    }
    assert(e.getMessage.contains("maxEntries=2") &&
      e.getMessage.contains("narrower reference corpus"))
  }

  test("maxWarcBytes: gunzip budget fails loud on expansion past the cap") {
    val payload = new Array[Byte](100000) // zeros compress ~1000x
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload); gz.close()
    val e = intercept[Exception] {
      withProp("graft.maxWarcBytes", "1024") {
        graft.sources.WarcOps.gunzipAll(bos.toByteArray)
      }
    }
    assert(e.getMessage.contains("graft.maxWarcBytes") &&
      e.getMessage.contains("raise the property"))
  }

  test("maxPdfBytes: FlateDecode budget fails loud through the public " +
      "pdfText path") {
    import spark.implicits._
    // id=1 -> flate-compressed synthetic PDF; budget of 4 bytes trips
    val e = intercept[Exception] {
      withProp("graft.maxPdfBytes", "4") {
        spark.range(1, 2)
          .select(graft.sources.PdfOps.pdfText(
            graft.sources.PdfOps.syntheticPdf(col("id"))))
          .collect()
      }
    }
    assert(rootMessage(e).contains("graft.maxPdfBytes"))
  }

  test("maxTrendSeries: TrendAgg refuses oversized groups, names the " +
      "knob and the remedy") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toDouble, i * 2.0)).toDF("t", "x")
    val e = intercept[Exception] {
      withProp("graft.maxTrendSeries", "5") {
        df.agg(graft.agg.TrendAgg.trend(col("t"), col("x"))).collect()
      }
    }
    val m = rootMessage(e)
    assert(m.contains("maxTrendSeries") && m.contains("pre-aggregate"))
    // happy path under the cap still works
    val r = df.agg(graft.agg.TrendAgg.trend(col("t"), col("x"))).head
      .getStruct(0)
    assert(r.getAs[Double]("slope") == 2.0)
  }

  test("maxKendallSeries: KendallTauAgg refuses oversized groups, " +
      "names the knob and the remedy") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toDouble, i * 2.0)).toDF("x", "y")
    val e = intercept[Exception] {
      withProp("graft.maxKendallSeries", "5") {
        df.agg(graft.agg.KendallTauAgg.kendallTau(col("x"), col("y")))
          .collect()
      }
    }
    val m = rootMessage(e)
    assert(m.contains("maxKendallSeries") && m.contains("sample"))
    assert(df.agg(graft.agg.KendallTauAgg.kendallTau(col("x"), col("y")))
      .head.getDouble(0) == 1.0)
  }

  test("maxCindexSeries: ConcordanceAgg refuses oversized groups and " +
      "names the knob") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toDouble, true, 20.0 - i))
      .toDF("t", "e", "r")
    val e = intercept[Exception] {
      withProp("graft.maxCindexSeries", "5") {
        df.agg(graft.agg.ConcordanceAgg.cIndex(col("t"), col("e"),
          col("r"))).collect()
      }
    }
    assert(rootMessage(e).contains("maxCindexSeries"))
  }

  test("maxLocalPagerank fallback: distributed loop (cap 0) matches " +
      "the driver fast path") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("u", "v")
    def ranks(): Map[Long, Double] =
      graft.graph.PageRankOps.pageRank(edges, col("u"), col("v"),
          iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = ranks()
    val dist = withProp("graft.maxLocalPagerank", "0") { ranks() }
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-9, s"node $k: $v vs ${dist(k)}")
    }
  }

  test("maxLocalIrls fallback: distributed IRLS (cap 0) matches the " +
      "driver fast path") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      val x1 = rng.nextGaussian(); val x2 = rng.nextGaussian()
      val p = 1.0 / (1.0 + math.exp(-(0.8 * x1 - 1.2 * x2 + 0.3)))
      (x1, x2, if (rng.nextDouble() < p) 1.0 else 0.0)
    }
    val df = rows.toDF("x1", "x2", "y")
    def fit(): Array[Double] =
      graft.ops.LinRegOps.logisticFit(df, Seq(col("x1"), col("x2")),
        col("y"))
    val local = fit()
    val dist = withProp("graft.maxLocalIrls", "0") { fit() }
    local.zip(dist).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"beta: $a vs $b")
    }
    // cap small-but-nonzero: the distributed loop engages WITH the
    // sampled warm start (125 of 300 rows fit the cap) — same MLE
    val warm = withProp("graft.maxLocalIrls", "500") { fit() }
    local.zip(warm).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"warm-start beta: $a vs $b")
    }
  }

  test("grouped IRLS converged-group early-exit matches the unmasked " +
      "loop at tol (local fast path and distributed loop)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 6 groups with very different convergence speeds: tiny clean
    // groups converge in a couple of Newton steps, the big noisy one
    // keeps iterating — exactly the shape the mask exploits
    val rows = (0 until 6).flatMap { g =>
      val n = if (g < 3) 40 else 400
      (0 until n).map { _ =>
        val x1 = rng.nextGaussian(); val x2 = rng.nextGaussian()
        val eta = (0.3 + 0.2 * g) * x1 - 0.7 * x2 + 0.1 * g
        val p = 1.0 / (1.0 + math.exp(-eta))
        (s"g$g", x1, x2, if (rng.nextDouble() < p) 1.0 else 0.0)
      }
    }
    val df = rows.toDF("g", "x1", "x2", "y")
    def fit(): Map[String, Seq[Double]] =
      graft.ops.LinRegOps.logisticFitGrouped(df, Seq("g"),
          Seq(col("x1"), col("x2")), col("y"), maxIter = 50, tol = 1e-9)
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def compare(a: Map[String, Seq[Double]],
                b: Map[String, Seq[Double]], label: String): Unit = {
      assert(a.keySet == b.keySet)
      a.foreach { case (g, ba) =>
        ba.zip(b(g)).foreach { case (x, y) =>
          assert(math.abs(x - y) < 1e-6, s"$label $g: $x vs $y")
        }
      }
    }
    // local fast path: masked (default) vs unmasked
    val masked = fit()
    val unmasked = withProp("graft.irlsNoEarlyExit", "true") { fit() }
    compare(masked, unmasked, "local")
    // distributed loop (cap 0): masked vs unmasked
    val maskedD = withProp("graft.maxLocalIrls", "0") { fit() }
    val unmaskedD = withProp("graft.maxLocalIrls", "0") {
      withProp("graft.irlsNoEarlyExit", "true") { fit() }
    }
    compare(maskedD, unmaskedD, "distributed")
    compare(masked, maskedD, "local-vs-distributed")
  }
}
