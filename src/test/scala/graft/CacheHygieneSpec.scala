package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Release

/** Operators that persist intermediates must leave the CacheManager as
  * they found it. Freeing a `Dataset.persist` by dropping only its
  * RDD's blocks leaves a stale entry behind: the next call's `persist`
  * of the same plan is then a no-op and every consumer of the "cached"
  * frame recomputes it. Each operator below runs twice on the same
  * input; after each call the entry count is back where it was, and
  * the two results agree. The [[Release.persist]] cases pin the
  * registration rules the operators rely on. */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def entries: Int = CacheProbe.numCachedEntries(spark)

  /** Rows as sorted strings; doubles to 10 significant digits, so a
    * last-bit difference in a distributed sum does not count. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9e"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Runs `call` twice. After each call the entry count is back where
    * it was, apart from `cumsum` entries the first call may leave:
    * GlobalCumsum's range-partitioned frame backs the lazy frame it
    * returns, so no scope of its own releases it through the
    * CacheManager (ROADMAP direction 4), and the second call reuses
    * its entry. */
  private def twice(name: String, cumsum: Int = 0)
                   (call: => Seq[String]): Unit = {
    val before = entries
    val first = call
    assert(entries == before + cumsum,
      s"$name: the first call left ${entries - before} cache entries")
    val second = call
    assert(entries == before + cumsum,
      s"$name: the second call left ${entries - before} cache entries")
    assert(first.nonEmpty, s"$name: empty result")
    assert(first == second, s"$name: the two calls disagree")
  }

  private def withProperty[A](key: String, value: String)(body: => A): A = {
    System.setProperty(key, value)
    try body finally System.clearProperty(key)
  }

  /** 60 documents in families of three near-duplicates. */
  private def docs: DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      val f = i / 3
      val words = (0 until 40).map(w => s"f${f}w$w")
      (i.toLong, (words :+ s"v${i % 3}").mkString(" "), s"d${f % 4}")
    }.toDF("id", "t", "dom")
  }

  test("text dedup operators release their signature caches") {
    // each new document has two near-duplicates in the corpus
    val old = docs.filter(col("id") % 3 =!= 2)
    val fresh = docs.filter(col("id") % 3 === 2)
    twice("minHashDupPairs")(rows(graft.text.TextOps.minHashDupPairs(
      docs, col("id"), col("t"), 0.5)))
    val mhBands = graft.text.TextOps.minHashBandTable(old, col("id"),
      col("t"))
    twice("incrementalMinHashDupPairs")(rows(
      graft.text.TextOps.incrementalMinHashDupPairs(fresh, col("id"),
        col("t"), mhBands, 0.5)))
    twice("simHashDupPairs")(rows(graft.text.TextOps.simHashDupPairs(
      docs, col("id"), col("t"), 3)))
    val shBands = graft.text.TextOps.simHashBandTable(old, col("id"),
      col("t"))
    twice("incrementalSimHashDupPairs")(rows(
      graft.text.TextOps.incrementalSimHashDupPairs(fresh, col("id"),
        col("t"), shBands, 3)))
  }

  test("sampling, statistics and correlation operators release theirs") {
    import spark.implicits._
    val tgt = docs.filter(col("id") % 2 === 0)
    twice("DsirOps.resample")(rows(graft.text.DsirOps.resample(docs, tgt,
      col("id"), col("t"), k = 10, dim = 64, hexChars = 2)))
    twice("SampleOps.temperatureSample")(rows(
      graft.sample.SampleOps.temperatureSample(docs, col("id"), col("dom"),
        alpha = 0.5, targetTotal = 20, seed = 7)))
    val xy = (0 until 200).map(i =>
      (i.toDouble, ((i * 37) % 23).toDouble, (i % 7).toDouble))
      .toDF("x", "y", "z")
    twice("StatOps.xiCorr ungrouped", cumsum = 1)(rows(
      graft.ops.StatOps.xiCorr(xy, col("x"), col("y"), Nil)))
    twice("EdaOps.corrTable spearman", cumsum = 1)(rows(
      graft.eda.EdaOps.corrTable(xy, Seq("x"), Seq("y", "z"), "spearman")))
    val lin = (0 until 200).map(i =>
      (i % 2, i.toDouble, 2.0 * i + (i * 13 % 7) - 3.0)).toDF("g", "x", "y")
    withProperty("graft.maxLocalIrls", "1") {
      twice("RobustOps.huberReg distributed")(rows(
        graft.ops.RobustOps.huberReg(lin, col("y"), col("x"), Seq("g"))))
      twice("RobustOps.quantileReg distributed")(rows(
        graft.ops.RobustOps.quantileReg(lin, col("y"), col("x"), 0.5,
          Seq("g"))))
    }
  }

  test("vector and image dedup operators release theirs") {
    import spark.implicits._
    val vecs = (0 until 80).map { i =>
      val c = i / 4
      (i.toLong, (0 until 8).map(d =>
        math.sin(c * 2.39996 + d * 1.7) + 0.001 * math.cos(i + d)))
    }.toDF("id", "vec")
    twice("SimOps.lshCosineTopK")(rows(graft.sim.SimOps.lshCosineTopK(
      vecs, 2)))
    twice("SimOps.cosineDupPairs")(rows(graft.sim.SimOps.cosineDupPairs(
      vecs, 0.99)))
    def png(page: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(12, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 12; y <- 0 until 10)
        img.setRGB(x, y, ((page * 31 + x * 7 + y * 13) % 256 << 16) |
          ((page * 17 + x * 11 + y * 3) % 256 << 8) |
          ((page * 5 + x * 3 + y * 29) % 256))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val imgs = (0 until 30).map(i => (i.toLong, png(i % 10)))
      .toDF("id", "payload")
    twice("MultimodalOps.imageDupPairs")(rows(
      graft.multimodal.MultimodalOps.imageDupPairs(imgs, col("id"),
        col("payload"), 3)))
    val imBands = graft.multimodal.MultimodalOps.imageBandTable(
      imgs.filter(col("id") < 20), col("id"), col("payload"))
    twice("MultimodalOps.incrementalImageDupPairs")(rows(
      graft.multimodal.MultimodalOps.incrementalImageDupPairs(
        imgs.filter(col("id") >= 20), col("id"), col("payload"), imBands,
        3)))
  }

  test("iterative graph and preference operators release theirs") {
    import spark.implicits._
    val edges = (0 until 120).map(i => (i.toLong, (i + 1 - (i % 6) / 5 * 6)
      .toLong)).toDF("src", "dst")
    twice("GraphOps.connectedComponents distributed")(rows(
      graft.graph.GraphOps.connectedComponents(edges, col("src"),
        col("dst"), localFinishThreshold = 0L)))
    // every player wins and loses some games (the MLE needs both)
    val matches = (for (i <- 0 until 6; j <- 0 until 6 if i != j;
                        g <- 0 until 5)
      yield if ((i * 31 + j * 17 + g * 7) % 10 < 7) (i.toLong, j.toLong)
        else (j.toLong, i.toLong)).toDF("w", "l")
    withProperty("graft.maxLocalBt", "0") {
      twice("PreferenceOps.bradleyTerry distributed")(rows(
        graft.ops.PreferenceOps.bradleyTerry(matches, col("w"), col("l"))))
    }
  }

  test("n-gram LM frames are released by the caller's scope") {
    twice("LmOps.perplexityBuckets")(Release.scopedValue(spark)(rows(
      graft.text.LmOps.perplexityBuckets(docs, col("t"), docs, col("id"),
        col("t"), col("dom"), lowCut = 0.25, highCut = 0.75,
        exact = true))))
    twice("LmOps.ngramLmScoreKN")(Release.scopedValue(spark)(rows(
      graft.text.LmOps.ngramLmScoreKN(docs, col("t"), docs, col("id"),
        col("t")))))
  }

  private def frame(tag: Long): DataFrame =
    spark.range(500).select((col("id") * tag).as("v"))

  test("Release.persist outside any scope is a plain persist") {
    val before = entries
    val d = Release.persist(frame(3))
    assert(d.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(d.count() == 500)
    assert(entries == before + 1 && CacheProbe.blocksLive(d))
    d.unpersist(blocking = true)
    assert(entries == before)
  }

  test("Release.persist registers with the innermost open scope") {
    val before = entries
    val outer = frame(5)
    val inner = frame(7)
    val total = Release.scopedValue(spark) {
      Release.persist(outer).count()
      val ck = Release.scoped(spark) {
        Release.persist(inner)
        inner.join(outer, "v")
      }
      // the inner scope released its frame after materializing ck,
      // the outer frame is still cached
      assert(inner.storageLevel == StorageLevel.NONE)
      assert(outer.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(CacheProbe.blocksLive(outer))
      val s = ck.agg(sum(col("v"))).head.getLong(0)
      Release.free(ck)
      s
    }
    assert(total == (0 until 500).filter(_ % 7 == 0).map(_ * 5L).sum)
    assert(outer.storageLevel == StorageLevel.NONE)
    assert(entries == before)
  }

  test("Release.persist leaves a caller's earlier cache of the plan alone") {
    val before = entries
    val mine = frame(11).persist(StorageLevel.MEMORY_AND_DISK)
    assert(mine.count() == 500)
    val n = Release.scopedValue(spark) {
      Release.scoped(spark) {
        Release.persist(frame(11)).filter(col("v") > 100)
      }.count()
    }
    assert(n == 500 - 10)
    assert(entries == before + 1)
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(CacheProbe.blocksLive(mine), "the caller's blocks were dropped")
    mine.unpersist(blocking = true)
    assert(entries == before)
  }

  test("a scope that throws still releases what it registered") {
    val before = entries
    val d = frame(13)
    intercept[IllegalStateException] {
      Release.scopedValue(spark) {
        Release.persist(d).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(d.storageLevel == StorageLevel.NONE)
    assert(entries == before)
  }
}
