package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{PqOps, SimOps}

class PqSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  /** Deterministic toy corpus: structured so neighbors are clear. */
  private def corpus(n: Int, dim: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(j =>
        math.sin(0.7 * ((i % 5) + 1) * (j + 1)) + 0.01 * i)
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
  }

  test("PQ with one centroid per point is exact (re-ranked and ADC)") {
    import spark.implicits._
    val clean = corpus(20, 8)
    // second input: a null-vec row (so a null code after encoding) in
    // the corpus and a null-vec query — null rows are never neighbors
    val withNulls = clean.unionByName(
      Seq((98L, Option.empty[Seq[Double]])).toDF("id", "vec"))
    for (df <- Seq(clean, withNulls)) {
      val cb = PqOps.trainPq(df, m = 2, ksub = 20, iters = 4)
      val codes = PqOps.pqEncode(df, cb)
      val q = df.filter(col("id") < 5 || col("id") === 98L)
      val exact = SimOps.cosineTopK(q, df, 3)
        .select(col("qid"), col("rk"), col("cid").as("eid"),
          col("cos").as("ecos"))
      val pq = PqOps.pqCosineTopK(q, codes, cb, 3, refine = 2,
          rerank = Some(df))
        .select(col("qid"), col("rk"), col("cid").as("aid"),
          col("cos").as("acos"))
      val j = exact.join(pq, Seq("qid", "rk")).collect()
      assert(j.length === 15)
      j.foreach { r =>
        assert(r.getAs[Long]("eid") === r.getAs[Long]("aid"), r.toString)
        assert(math.abs(r.getAs[Double]("ecos") -
          r.getAs[Double]("acos")) < 1e-12, r.toString)
      }
      assert(PqOps.pqCosineTopK(q, codes, cb, 3, refine = 2)
        .filter(col("qid") === 98L || col("cid") === 98L).count() === 0L)
    }
  }

  test("ADC estimate equals cosine against the reconstructed vector") {
    val df = corpus(30, 8)
    val cb = PqOps.trainPq(df, m = 2, ksub = 4, iters = 8)
    val codes = PqOps.pqEncode(df, cb)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val vecs = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = df.filter(col("id") === 0)
    val adc = PqOps.pqCosineTopK(q, codes, cb, 5, refine = 1)
      .collect().map(r =>
        r.getAs[Long]("cid") -> r.getAs[Double]("cos_adc")).toMap
    val dsub = cb.dsub
    def recon(code: Array[Int]): Array[Double] =
      Array.tabulate(cb.dim)(i => cb.books(i / dsub)(code(i / dsub))(i % dsub))
    val qv = vecs(0L)
    adc.foreach { case (cid, est) =>
      val rv = recon(codeMap(cid))
      var dot = 0.0; var qn = 0.0; var rn = 0.0
      for (i <- qv.indices) {
        dot += qv(i) * rv(i); qn += qv(i) * qv(i); rn += rv(i) * rv(i)
      }
      val want = dot / math.sqrt(qn * rn)
      assert(math.abs(est - want) < 1e-12, s"cid=$cid: $est vs $want")
    }
  }

  test("training is deterministic") {
    val df = corpus(40, 8)
    val a = PqOps.trainPq(df, m = 4, ksub = 8)
    val b = PqOps.trainPq(df, m = 4, ksub = 8)
    assert(a.books.flatten.flatten.toSeq === b.books.flatten.flatten.toSeq)
  }

  test("re-ranked PQ recall on clustered data clears the bound") {
    // 5 tight direction-clusters: coarse codebooks must still keep
    // the true nearest neighbor inside a refine=4 shortlist
    val df = corpus(100, 16)
    val cb = PqOps.trainPq(df, m = 4, ksub = 8)
    val codes = PqOps.pqEncode(df, cb)
    val q = df.filter(col("id") < 20)
    val exact = SimOps.cosineTopK(q, df, 1)
      .select(col("qid"), col("cos").as("ecos"))
    val pq = PqOps.pqCosineTopK(q, codes, cb, 1, refine = 4,
        rerank = Some(df))
      .select(col("qid"), col("cos").as("acos"))
    val j = exact.join(pq, Seq("qid")).collect()
    assert(j.length === 20)
    val hits = j.count(r => math.abs(r.getAs[Double]("ecos") -
      r.getAs[Double]("acos")) < 1e-9)
    // exact-cos matches (id ties collapse to the same cos)
    assert(hits >= 16, s"recall ${hits}/20")
    // re-ranked scores are true cosines, so never above the exact best
    j.foreach(r => assert(r.getAs[Double]("acos") <=
      r.getAs[Double]("ecos") + 1e-9))
  }
}
