package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * NeurIPS): select raw-corpus documents whose hashed-n-gram
  * distribution looks like a target corpus. The pipeline is
  *   1. featurize: bag of word uni+bigrams, hashed into `dim` buckets
  *   2. fit: smoothed bucket multinomials p_target / p_raw, keep the
  *      per-bucket log ratio
  *   3. score: log importance weight of a document =
  *      Σ_b count_b · (ln p_target[b] − ln p_raw[b])
  *   4. resample: Gumbel top-k on (log w + g_i) — an exact sample from
  *      the softmax over importance weights, made deterministic here
  *      by deriving the Gumbel noise from md5(id ":" seed)
  *
  * Everything is engine-portable by construction (md5-prefix bucket
  * hashing, closed-form Gumbel from a hash-derived uniform), so the
  * q_dsir oracle replays feature counts, both multinomials, every
  * document score and the final selection in SQL.
  *
  * Scale shape: featurization is one explode + one groupBy(bucket)
  * partial-aggregated to at most `dim` rows per side; the fitted model
  * is a `dim`-row table broadcast into scoring (map-side join, no
  * shuffle of the corpus); resampling is a distributed top-k
  * (TakeOrderedAndProject), never a full sort. Nothing collects rows
  * to the driver.
  */
object DsirOps {

  /** Hash bucket of one gram: the first `hexChars` hex digits of
    * md5(gram) as an integer, mod `dim`. 2 hex chars cover dim ≤ 256;
    * use 4+ (≤ 65536) for production feature spaces. */
  def hashedBucketHex(gram: Column, dim: Int, hexChars: Int): Column = {
    require(dim >= 2, s"hashedBucketHex: dim must be >= 2, got $dim")
    require(hexChars >= 1 && hexChars <= 12,
      s"hashedBucketHex: hexChars must be in [1,12], got $hexChars")
    require(math.pow(16, hexChars) >= dim,
      s"hashedBucketHex: 16^$hexChars < dim=$dim — buckets unreachable")
    pmod(conv(substring(md5(gram), 1, hexChars), 16, 10).cast("long"),
      lit(dim.toLong)).cast("int")
  }

  /** Word uni+bigrams of the house tokenization (`\s+` words of
    * lowercased trimmed text, empties dropped). The token array is
    * bound as a lambda variable (Catalyst does not CSE into lambda
    * bodies — inlining split would re-tokenize per bigram). */
  def uniBigrams(text: Column): Column = {
    val toksOf = (t: Column) => filter(split(lower(trim(t)), "\\s+"),
      w => w =!= "")
    val gramsOf = (t: Column) => concat(t,
      when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat_ws(" ", element_at(t, i + 1),
            element_at(t, i + 2))))
        .otherwise(array().cast("array<string>")))
    element_at(transform(array(toksOf(text)), gramsOf), 1)
  }

  /** Long-format hashed features: (id, bucket, cnt) — one row per
    * (document, occupied bucket). Long format (vs the wide f0..fN of
    * ClassifierOps) keeps the shuffle proportional to occupied
    * buckets, which is what survives dim = 10⁴⁺ at corpus scale. */
  def ngramBuckets(df: DataFrame, id: Column, text: Column,
                   dim: Int, hexChars: Int = 4): DataFrame =
    // featurization (tokenize + md5 bucket counts) rides the scan
    // stage: spread a single-split input (no-op when the scan already
    // parallelizes — guide §2.5)
    graft.util.Spread.byKey(
        df.select(id.as("id"), text.as("__x")), col("id"))
      .select(col("id"),
        explode(org.apache.spark.sql.graft.NativeFunctions
          .mdBucketCountsNative(col("__x"), dim, hexChars)).as("p"))
      .select(col("id"),
        shiftright(col("p"), 32).cast("int").as("bucket"),
        col("p").bitwiseAND(lit(0xffffffffL)).as("cnt"))

  /** Column-algebra twin of [[ngramBuckets]] — the expression-level
    * reference the native kernel is spec-pinned against (DsirSpec).
    * Four interpreted HigherOrderFunctions + a gram-per-row explode +
    * a groupBy shuffle; use [[ngramBuckets]] (shuffle-free native
    * pass) everywhere else. */
  private[graft] def ngramBucketsColumnar(df: DataFrame, id: Column,
                                          text: Column, dim: Int,
                                          hexChars: Int = 4): DataFrame =
    df.select(id.as("id"), explode(uniBigrams(text)).as("g"))
      .select(col("id"), hashedBucketHex(col("g"), dim, hexChars)
        .as("bucket"))
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Fit the DSIR model: per-bucket log(p_target / p_raw) over the
    * full bucket range with add-`alpha` smoothing. Returns a
    * `dim`-row frame (bucket, log_ratio) — small by construction,
    * broadcast by [[score]]. */
  def fitLogRatio(raw: DataFrame, target: DataFrame, id: Column,
                  text: Column, dim: Int, hexChars: Int = 4,
                  alpha: Double = 0.1): DataFrame =
    fitLogRatioFromBuckets(
      ngramBuckets(raw, id, text, dim, hexChars),
      ngramBuckets(target, id, text, dim, hexChars), dim, alpha)

  /** [[fitLogRatio]] over pre-featurized (id, bucket, cnt) frames —
    * lets [[resample]] featurize the raw corpus ONCE and reuse it for
    * both the model fit and the scoring pass. */
  def fitLogRatioFromBuckets(rawBuckets: DataFrame,
                             targetBuckets: DataFrame, dim: Int,
                             alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"fitLogRatio: alpha must be > 0, got $alpha")
    val spark = rawBuckets.sparkSession
    def side(b: DataFrame, nm: String) =
      b.groupBy(col("bucket")).agg(sum(col("cnt")).as(nm))
    val all = spark.range(dim).select(col("id").cast("int")
      .as("bucket"))
    val j = all
      .join(side(rawBuckets, "c_raw"), Seq("bucket"), "left")
      .join(side(targetBuckets, "c_tgt"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
    // totals via a window-free cross join of two 1-row aggregates
    val tot = j.agg(sum(col("c_raw")).as("t_raw"),
      sum(col("c_tgt")).as("t_tgt"))
    j.crossJoin(tot)
      .select(col("bucket"),
        (log((col("c_tgt") + alpha) / (col("t_tgt") + alpha * dim)) -
          log((col("c_raw") + alpha) / (col("t_raw") + alpha * dim)))
          .as("log_ratio"))
  }

  /** Log importance weight per document: join the document's occupied
    * buckets against the broadcast model and sum cnt·log_ratio.
    * Documents with no grams score 0. Returns (id, log_w). */
  def score(df: DataFrame, id: Column, text: Column,
            model: DataFrame, dim: Int,
            hexChars: Int = 4): DataFrame =
    ngramBuckets(df, id, text, dim, hexChars)
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("id"))
      .agg(sum(col("cnt") * col("log_ratio")).as("log_w"))

  /** Deterministic standard Gumbel noise from md5(id ":" seed): the
    * first 8 hex chars as a 32-bit uniform, shifted by +0.5 so u is
    * never 0 or 1, then −ln(−ln u). */
  def gumbelNoise(id: Column, seed: Long): Column = {
    val u = (conv(substring(
      md5(concat(id.cast("string"), lit(":" + seed))), 1, 8), 16, 10)
      .cast("double") + 0.5) / math.pow(2.0, 32)
    -log(-log(u))
  }

  /** DSIR end-to-end: fit on (raw, target), score raw, Gumbel top-k.
    * Returns the selected (id, log_w, key) rows, key = log_w + g —
    * a deterministic exact sample of size k from the importance
    * softmax. Ties (identical documents share log_w) are broken by
    * the id-derived noise, then id. */
  def resample(raw: DataFrame, target: DataFrame, id: Column,
               text: Column, k: Int, dim: Int, hexChars: Int = 4,
               alpha: Double = 0.1, seed: Long = 42): DataFrame = {
    require(k >= 1, s"resample: k must be >= 1, got $k")
    // Release.scoped: the k-row result is materialized and the persisted
    // featurization below is unpersisted on exit — without it the rawB
    // blocks would live for the session's lifetime (repo hygiene rule).
    graft.util.Release.scoped(raw.sparkSession) {
      // featurize raw ONCE (persisted): the frame feeds both the model
      // fit and the scoring join — featurization (explode + hash) is the
      // dominant cost and would otherwise run twice
      val rawB = graft.util.Release.persist(
        ngramBuckets(raw, id, text, dim, hexChars))
      val tgtB = ngramBuckets(target, id, text, dim, hexChars)
      val model = fitLogRatioFromBuckets(rawB, tgtB, dim, alpha)
      val docScores = rawB.join(broadcast(model), Seq("bucket"))
        .groupBy(col("id"))
        .agg(sum(col("cnt") * col("log_ratio")).as("log_w"))
      val scored = raw.select(id.as("id"))
        .join(docScores, Seq("id"), "left")
        .select(col("id"), coalesce(col("log_w"), lit(0.0)).as("log_w"))
        .withColumn("key", col("log_w") + gumbelNoise(col("id"), seed))
      scored.orderBy(col("key").desc, col("id")).limit(k)
    }
  }
}
