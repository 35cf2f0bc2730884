package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection for embedding compression —
  * the standard dimensionality-reduction step in front of ANN /
  * clustering at corpus scale (distances are preserved within 1±ε for
  * k = O(ln n / ε²) output dims).
  *
  * The Gaussian projection matrix is DERIVED, not sampled: entry
  * (j, i) comes from md5("jl:salt:j:i") via Box–Muller over the two
  * 32-bit uniforms in the digest's first 16 hex chars. That makes the
  * projection a pure function of (salt, dims) — the same bytes on any
  * cluster, any run, any engine — so the q_jl_project oracle recomputes
  * every matrix entry AND every projected coordinate in SQL.
  *
  * Scale shape: the matrix is embedded as a plan literal (outDim ×
  * inDim doubles — a few KB, same pattern as the pHash DCT basis
  * table) and the projection is codegen'd zip_with/aggregate Column
  * algebra: row-local, no shuffle, no UDF, no broadcast needed.
  */
object ProjectOps {

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Deterministic standard normal for matrix cell (j, i): Box–Muller
    * over two (value + 0.5)/2³² uniforms from md5("jl:salt:j:i"). */
  def gaussianEntry(salt: Int, j: Int, i: Int): Double = {
    val hex = md5Hex(s"jl:$salt:$j:$i")
    val u1 = (java.lang.Long.parseLong(hex.substring(0, 8), 16) + 0.5) /
      4294967296.0
    val u2 = (java.lang.Long.parseLong(hex.substring(8, 16), 16) + 0.5) /
      4294967296.0
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The outDim × inDim projection matrix for `salt`. */
  def jlMatrix(outDim: Int, inDim: Int,
               salt: Int = 0): Array[Array[Double]] = {
    require(outDim >= 1 && inDim >= 1,
      s"jlMatrix: dims must be >= 1, got ($outDim, $inDim)")
    Array.tabulate(outDim, inDim)((j, i) => gaussianEntry(salt, j, i))
  }

  /** Project a numeric array column to `outDim` dims:
    * out_j = (1/√outDim) Σ_i vec_i · g(j, i). The caller's vector must
    * have exactly `inDim` elements (shorter vectors are zero-padded by
    * zip_with's null→0 coalesce; longer ones are truncated by an
    * explicit slice — zip_with alone would null-pad the MATRIX side
    * and propagate null through every coordinate). */
  def jlProject(vec: Column, outDim: Int, inDim: Int,
                salt: Int = 0): Column = {
    val m = jlMatrix(outDim, inDim, salt)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val mat = array(m.map(r => array(r.map(lit): _*)): _*)
    val v = slice(vec.cast("array<double>"), 1, inDim)
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(
        zip_with(v, element_at(mat, j + 1),
          (x, y) => coalesce(x, lit(0.0)) * y),
        lit(0.0), (acc, x) => acc + x) * scale)
  }

  /** Two-stage ANN through JL compression: coarse cosine top-
    * (candFactor·k) in the `jlDim`-compressed space, then EXACT cosine
    * re-rank of the shortlist in the original space — the
    * shortlist-then-refine of [[PqOps.pqCosineTopK]], with JL's
    * distance-preservation guarantee standing in for codebook quality.
    * Reported cos values are true cosines of a candidate subset
    * (subset ≤ exact is a hard invariant).
    *
    * WHEN TO USE: the oblivious projection adds ~1/√jlDim cosine
    * noise, so the shortlist is reliable only when the true neighbor
    * is SEPARATED from the background by more than that (near-dup
    * retrieval: twin at cos ≈ 0.95 vs background ≈ 0.4 — recall ≈ 1,
    * pinned in ProjectSpec). For weakly-separated corpora (top-1
    * gaps ≪ 1/√jlDim, e.g. the synthetic embeddings fixture where
    * neighbors sit ~0.03 above background) use the data-adapted
    * [[SimOps.ivfCosineTopK]] / [[PqOps.pqCosineTopK]] instead —
    * measured there: 64→32 dims yields only ~0.33 top-1 recall.
    *
    * Scale shape: both sides project row-locally (no shuffle); the
    * coarse pass is [[SimOps.cosineTopK]]'s broadcast-query map-side
    * top-k over jlDim-wide vectors (a 4× dim cut ≈ 4× less scan
    * arithmetic — that is the point); the re-rank joins only
    * |queries|·candFactor·k candidate rows back to full vectors. */
  def jlCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   inDim: Int, jlDim: Int = 16, candFactor: Int = 4,
                   salt: Int = 0, queryCap: Long = 100000L)
      : DataFrame = {
    require(k >= 1 && candFactor >= 1,
      s"jlCosineTopK: k and candFactor must be >= 1")
    val pq = queries.select(col("id"),
      jlProject(col("vec"), jlDim, inDim, salt).as("vec"))
    val pc = corpus.select(col("id"),
      jlProject(col("vec"), jlDim, inDim, salt).as("vec"))
    val coarse = SimOps.cosineTopK(pq, pc, k * candFactor,
        queryCap = queryCap)
    VectorTopK.topKPerQuery(
      VectorTopK.exactRerank(coarse, queries, corpus), "cos", k)
  }
}
