package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding search at rest — the
  * compression half of IVF-PQ (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011).
  *
  * The scale argument: a 100 TB embedding corpus at d=768 float32 is
  * ~3 KB/vector; PQ with m=96 subspaces × 256 centroids stores 96
  * BYTES per vector (32× smaller) and scores a query against a row in
  * O(m) table lookups instead of O(d) multiplies. The codebooks are a
  * few hundred KB — broadcast-trivial. Composition with IVF: write
  * the corpus cell-partitioned ([[SimOps.writeIvfPartitioned]]), PQ-
  * encode each cell, and run [[pqCosineTopK]] over only the probed
  * cells — directory pruning cuts IO, PQ cuts bytes AND arithmetic.
  *
  * Cosine ADC (asymmetric distance computation): with per-query
  * lookup tables dotLUT[s][c] = <q_s, C_s[c]> and the reconstructed
  * norm table nrmLUT[s][c] = |C_s[c]|², the estimate is
  *   cos(q, x) ≈ Σ_s dotLUT[s][code_s] /
  *               sqrt(|q|² · Σ_s nrmLUT[s][code_s])
  * i.e. the exact cosine between q and the RECONSTRUCTED corpus
  * vector — the query side is never quantized.
  *
  * Everything is deterministic: evenly-spaced init over the sorted
  * sample, fixed Lloyd iteration count, no RNG — same data in, same
  * codebooks out (an index rebuilt on another cluster is identical).
  */
object PqOps {

  /** Trained PQ codebooks: `books(s)(c)` = centroid c of subspace s,
    * each of length dim/m. */
  case class PqCodebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = if (books.isEmpty) 0 else books(0).length
    def dsub: Int =
      if (books.isEmpty || books(0).isEmpty) 0 else books(0)(0).length
    def dim: Int = m * dsub
  }

  /** Train PQ codebooks over a deterministic corpus sample (first
    * `sampleCap` ids — at real scale pass a hash-sampled frame; rows
    * with a null vector are skipped). Plain per-subspace Lloyd k-means,
    * deterministic init. */
  def trainPq(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
              sampleCap: Int = 20000, iters: Int = 10): PqCodebooks = {
    val sample = corpus
      .select(col("id").cast("long").as("id"),
        col("vec").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(col("id")).limit(sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "trainPq: empty sample")
    val dim = sample(0).length
    require(dim % m == 0,
      s"trainPq: dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub))
      lloyd(sub, math.min(ksub, sub.length), iters)
    }
    PqCodebooks(books)
  }

  /** Deterministic Lloyd k-means (L2): evenly spaced init over the
    * sample order, empty cells keep their previous centroid. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    val d = pts(0).length
    var cents = Array.tabulate(k)(c => pts(c * pts.length / k).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, d)
      val cnt = new Array[Int](k)
      pts.foreach { p =>
        val best = nearestSub(cents, p)
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnt(c) == 0) cents(c)
        else { val v = sums(c); val n = cnt(c); v.map(_ / n) })
      it += 1
    }
    cents
  }

  /** Nearest centroid by L2 (ties to the lower code — both the
    * encoder and every spec oracle use this order). */
  private def nearestSub(cents: Array[Array[Double]],
                         p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0; var i = 0
      while (i < p.length) {
        val t = p(i) - cents(c)(i); dist += t * t; i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Encode a corpus frame (`id`, `vec`) to (`id`, `code`): one narrow
    * projection, m small nearest-centroid scans per row against the
    * broadcast codebooks. The output is the at-rest form — write it
    * where the corpus would have gone and drop the raw vectors (keep
    * them only if exact re-ranking is wanted, see [[pqCosineTopK]]'s
    * `refine`). */
  def pqEncode(df: DataFrame, cb: PqCodebooks): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(cb.books)
    val dsub = cb.dsub
    val enc = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val a = v.toArray // List at udf call sites: O(n) copy once
        val books = bc.value
        val code = new Array[Int](books.length)
        var s = 0
        while (s < books.length) {
          // clamp BOTH ends: a vector shorter than books.length*dsub
          // (ragged/malformed input) degrades like the historical
          // v.slice formulation instead of throwing AIOOBE mid-encode
          val sub = java.util.Arrays.copyOfRange(
            a, math.min(s * dsub, a.length),
            math.min((s + 1) * dsub, a.length))
          code(s) = nearestSub(books(s), sub)
          s += 1
        }
        code
      }
    }
    df.select(col("id").cast("long").as("id"),
      col("vec").cast("array<double>").as("vec"))
      .select(col("id"), enc(col("vec")).as("code"))
  }

  /** Approximate cosine top-k over PQ codes (ADC). Queries (≪ corpus)
    * are collected and broadcast with their per-subspace LUTs; the
    * code table streams through one mapPartitions keeping per-query
    * top-`k·refine` heaps on the O(m)-per-row ADC estimate. With
    * `refine` > 1 and `rerank` vectors supplied, the candidate pool is
    * exact-re-ranked: join the shortlist (|queries|·k·refine rows —
    * tiny) back to the true vectors and score real cosine, so reported
    * `cos` values are EXACT and only recall is approximate — the
    * standard IVF-PQ two-stage search. Without `rerank` the ADC
    * estimates themselves are returned (column `cos_adc`).
    *
    * Sizing `refine`: recall at a FIXED shortlist decays as the corpus
    * grows (same ADC error, more distractors — measured top-1 recall
    * 0.91 → 0.68 going 500 → 20k vectors at refine=16, k=1;
    * `graft.tools.PqRecallProbe` reproduces the curve). Scale refine
    * roughly with sqrt(corpus rows) — ~sqrt(n)/2 held recall ≈0.9 at
    * every probed scale (refine 16/23/71 at 500/2k/20k vectors). */
  def pqCosineTopK(queries: DataFrame, codes: DataFrame,
                   cb: PqCodebooks, k: Int, refine: Int = 4,
                   rerank: Option[DataFrame] = None,
                   queryCap: Long = 1000000L): DataFrame = {
    val op = "pqCosineTopK"
    val books = cb.books
    val m = cb.m; val dsub = cb.dsub; val ksub = cb.ksub
    val qs = VectorTopK.collectQueries(queries, queryCap, op, cb.dim)
    // nrmLUT[s*ksub+c] = |C_s[c]|²; per query dotLUT[s*ksub+c] =
    // <q_s, C_s[c]>, plus |q|²
    def lut(f: (Int, Array[Double]) => Double): Array[Double] = {
      val t = new Array[Double](m * ksub)
      for (s <- 0 until m; c <- books(s).indices)
        t(s * ksub + c) = f(s, books(s)(c))
      t
    }
    val nrmLUT = lut((_, b) => VectorTopK.norm2(b))
    val dotLUTs = qs.map { case (_, qv) =>
      lut((s, b) => VectorTopK.dot(qv, b, s * dsub)) }
    val qNorm2 = qs.map(q => VectorTopK.norm2(q._2))
    val keep = k * math.max(1, refine)
    val adc = VectorTopK.scan(VectorTopK.live(codes, col("code")),
        qs.map(_._1), (dotLUTs, qNorm2, nrmLUT), keep, "cos_adc") {
      case (luts, qn2, nlut) => (r, heaps) =>
        val code = r.getSeq[Int](1).toArray // List at deser: O(1) after
        VectorTopK.requireLen(op, "code", r.getLong(0), code.length, m)
        // reconstructed norm² — shared across queries for this row
        var rn2 = 0.0
        var s = 0
        while (s < m) { rn2 += nlut(s * ksub + code(s)); s += 1 }
        var qi = 0
        while (qi < luts.length) {
          val lut = luts(qi)
          var dot = 0.0
          var t = 0
          while (t < m) { dot += lut(t * ksub + code(t)); t += 1 }
          heaps.report(qi,
            if (rn2 == 0.0 || qn2(qi) == 0.0) 0.0
            else dot / math.sqrt(qn2(qi) * rn2))
          qi += 1
        }
    }
    val shortlist = VectorTopK.topKPerQuery(adc, "cos_adc", keep)
    rerank match {
      case None => shortlist.filter(col("rk") <= k)
      // two-stage: exact cosine on the tiny shortlist only
      case Some(vecs) => VectorTopK.topKPerQuery(
        VectorTopK.exactRerank(shortlist, queries, vecs), "cos", k)
    }
  }
}
