package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring for corpus quality
  * filtering — the CCNet recipe (Wenzek et al. 2020, "CCNet: Extracting
  * High Quality Monolingual Datasets from Web Crawl Data"): train an
  * n-gram LM on a reference corpus, score every candidate document's
  * perplexity under it, and keep the low-perplexity (fluent) tail.
  * CCNet uses a KenLM 5-gram; this is the same pipeline shape with an
  * add-α smoothed count model so both training and scoring stay pure
  * Spark aggregations (no external LM runtime) and the whole computation
  * is replayable in ANSI SQL for the correctness oracle.
  *
  * Model: p(w_n | w_1..w_{n-1}) = (c(gram) + α) / (c(prefix) + α·V)
  * with V = distinct-unigram vocabulary size of the training corpus and
  * the prefix count taken over ALL prefix-gram occurrences. Document
  * score = cross-entropy (mean negative natural log-probability over the
  * document's n-grams) and its exp, the perplexity.
  *
  * Scale shape (corpus = 100 TB): training is two map-side-combined
  * groupBy counts that shuffle the 8-byte xxhash64 of each gram — never
  * gram text. Scoring explodes each document's n-grams once and
  * equi-joins the two count tables on those hashes (plain hash joins;
  * AQE broadcasts the unigram side when it fits), then one aggregation
  * per document. No collect, no windows, no driver state. Collisions on
  * the 64-bit gram hash merge two counts (birthday bound ~2.7e-2 at 10⁹
  * distinct grams) — same documented trade as
  * [[CorpusOps.duplicatedSpans]].
  */
object LmOps {

  /** Train an add-α n-gram LM on `train` and score each `score` document:
    * (doc_id, n_ngrams, cross_entropy, ppl). Documents with fewer than
    * `n` tokens have no n-grams and are absent — left-join downstream to
    * label them. Self-scoring (train == score) is the in-corpus quality
    * signal; passing a curated reference as `train` gives the CCNet
    * setup. */
  def ngramLmScore(train: DataFrame, trainText: Column,
                   score: DataFrame, id: Column, text: Column,
                   n: Int = 2, alpha: Double = 0.4): DataFrame = {
    require(n >= 2, s"ngramLmScore: n must be >= 2, got $n")
    require(alpha > 0.0, s"ngramLmScore: alpha must be > 0, got $alpha")
    // Gram hashing runs on the native WordNgramHashes kernel — one
    // primitive pass per document, bit-identical to
    // xxhash64(wordNgrams(...)) but with no per-gram string
    // materialization and no per-row substring_index rescan for the
    // prefix hash (the prefix of n-gram i IS (n-1)-gram i, so the two
    // hash arrays zip positionally).
    import org.apache.spark.sql.graft.NativeFunctions.wordNgramHashesNative
    // r17: the r16 spread before tokenize+hash was REMOVED after the
    // sf10 fires-branch A/B (spread on 6.5-7.5 s vs off 4.5-6.1 s warm
    // for q_lm_kn): the native hash kernel is cheap enough per byte
    // that the added exchange costs more than the single-task scan it
    // parallelizes, at every scale where the gate fires. The count
    // passes' own groupBy exchanges already redistribute the heavy
    // explode output.
    val trainTok = train.select(trainText.as("__tt"))
    // prefix = leading (n-1)-gram of each n-gram; its count table is
    // the denominator. For n=2 that is the unigram table itself.
    val prefixCnt = trainTok
      .select(explode(wordNgramHashesNative(col("__tt"), n - 1)).as("ph"))
      .groupBy(col("ph")).agg(count(lit(1)).as("c_prefix"))
    val gramCnt = trainTok
      .select(explode(wordNgramHashesNative(col("__tt"), n)).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("c_gram"))
    // vocabulary size as a 1-row frame (kept lazy; broadcast into the
    // scoring join instead of an eager driver action). For n = 2 the
    // prefix table IS the unigram table, so its row count is the
    // vocabulary — one whole tokenize+explode+distinct pass saved
    // (same equivalence compileLm already uses); the prefix groupBy's
    // exchange is shared with the scoring join via reuse.
    val vocab =
      if (n == 2) prefixCnt.agg(count(lit(1)).as("v"))
      else trainTok
        .select(explode(wordNgramHashesNative(col("__tt"), 1)).as("wh"))
        .agg(count_distinct(col("wh")).as("v"))
    val docGrams = score.select(id.as("doc_id"), text.as("__sx"))
      .select(col("doc_id"),
        wordNgramHashesNative(col("__sx"), n).as("__gh"),
        wordNgramHashesNative(col("__sx"), n - 1).as("__ph"))
      .select(col("doc_id"), explode(zip_with(
        col("__gh"), slice(col("__ph"), lit(1), size(col("__gh"))),
        (g, p) => struct(g.as("gh"), p.as("ph")))).as("z"))
      .select(col("doc_id"), col("z.gh").as("gh"), col("z.ph").as("ph"))
    val nl = -log(
      (coalesce(col("c_gram"), lit(0L)) + lit(alpha)) /
        (coalesce(col("c_prefix"), lit(0L)) + lit(alpha) * col("v")))
    docGrams
      .join(gramCnt, Seq("gh"), "left")
      .join(prefixCnt, Seq("ph"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), nl.as("nl"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        avg(col("nl")).as("cross_entropy"))
      .withColumn("ppl", exp(col("cross_entropy")))
  }

  /** A trained n-gram LM compiled to driver-side hash→count maps for
    * broadcast scoring. This is the STREAMING shape: training stays a
    * distributed aggregation, but the finished model (vocabulary-sized,
    * not corpus-sized) collects under a loud cap and broadcasts so each
    * stream row scores statelessly — no stream-side join, no watermark,
    * no shuffle. Exactly KenLM's role in CCNet: a compact artifact
    * applied row-at-a-time at scan speed. */
  final case class CompiledLm(n: Int, alpha: Double, vocab: Long,
                              gram: Map[Long, Long],
                              prefix: Map[Long, Long])

  /** Train on `train` and compile the count model. Fails loud when the
    * model exceeds `maxEntries` distinct grams (raise it explicitly, or
    * coarsen the model — a silently-OOMing broadcast helps no one). */
  def compileLm(train: DataFrame, trainText: Column, n: Int = 2,
                alpha: Double = 0.4,
                maxEntries: Long = 2000000L): CompiledLm = {
    require(n >= 2, s"compileLm: n must be >= 2, got $n")
    val gramCnt = train
      .select(explode(TextOps.wordNgrams(trainText, n)).as("g"))
      .select(xxhash64(col("g")).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("c"))
    val nGrams = gramCnt.count()
    require(nGrams <= maxEntries,
      s"compileLm: $nGrams distinct $n-grams exceed maxEntries=" +
        s"$maxEntries; raise it or train on a narrower reference corpus")
    val prefixCnt = train
      .select(explode(TextOps.wordNgrams(trainText, n - 1)).as("p"))
      .select(xxhash64(col("p")).as("ph"))
      .groupBy(col("ph")).agg(count(lit(1)).as("c"))
    val vocab =
      if (n == 2) prefixCnt.count()
      else train.select(explode(TextOps.wordNgrams(trainText, 1)).as("w"))
        .select(xxhash64(col("w")).as("wh")).distinct().count()
    def toMap(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CompiledLm(n, alpha, vocab, toMap(gramCnt), toMap(prefixCnt))
  }

  /** Stateless scoring column from a compiled model: struct(n_ngrams,
    * cross_entropy, ppl), null for documents with no n-gram. Works
    * identically on batch and streaming frames (pure row-local UDF over
    * a broadcast model). Hashing matches the distributed path bit-for-
    * bit (XXH64 seed 42 over the gram string's UTF-8 bytes), so
    * batch-vs-stream parity is exact. */
  def scoreWithLm(spark: org.apache.spark.sql.SparkSession,
                  lm: CompiledLm): Column => Column = {
    val bc = spark.sparkContext.broadcast(lm)
    val scoreUdf = udf { (t: String) =>
      if (t == null) null
      else {
        val m = bc.value
        // normalize through the SAME ops the distributed path plans
        // (Spark trim strips 0x20 only; UTF8String lower-cases without
        // locale surprises) — Java String.trim would also strip
        // tab/newline and String.toLowerCase is locale-sensitive, so a
        // leading-tab document would score here but produce no grams in
        // ngramLmScore, breaking exact batch-vs-stream parity
        val parts = org.apache.spark.unsafe.types.UTF8String
          .fromString(t).trim().toLowerCase().toString.split("\\s+")
        if (parts.length < m.n || (parts.length > 0 && parts(0).isEmpty))
          null
        else {
          def h(s: String): Long = {
            val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
                u.numBytes, 42L)
          }
          val k = parts.length - m.n + 1
          var sum = 0.0
          var i = 0
          while (i < k) {
            val gram = parts.slice(i, i + m.n).mkString(" ")
            val pref = parts.slice(i, i + m.n - 1).mkString(" ")
            val cg = m.gram.getOrElse(h(gram), 0L)
            val cp = m.prefix.getOrElse(h(pref), 0L)
            sum -= math.log((cg + m.alpha) / (cp + m.alpha * m.vocab))
            i += 1
          }
          val ce = sum / k
          (k.toLong, ce, math.exp(ce))
        }
      }
    }
    (text: Column) => scoreUdf(text).cast(
      "struct<n_ngrams:bigint,cross_entropy:double,ppl:double>")
  }

  /** CCNet's filtering step: score against a reference LM and keep
    * documents at or below the given perplexity cut. Documents too short
    * to have an n-gram are dropped (no evidence of fluency), matching
    * CCNet's treatment of empty paragraphs. */
  def perplexityFilter(train: DataFrame, trainText: Column,
                       df: DataFrame, id: Column, text: Column,
                       maxPpl: Double, n: Int = 2,
                       alpha: Double = 0.4): DataFrame = {
    val scores = ngramLmScore(train, trainText, df, id, text, n, alpha)
      .filter(col("ppl") <= maxPpl)
      .select(col("doc_id").as("__keep_id"))
    df.join(scores, id.cast(scores.schema("__keep_id").dataType)
      === col("__keep_id"), "left_semi")
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * smoothing KenLM — and therefore CCNet — actually uses, vs the
    * add-α of [[ngramLmScore]]):
    *
    *   p(w2|w1) = max(c(w1,w2) − d, 0)/c(w1·)
    *            + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··)
    *
    * with discount `d`, prefix total c(w1·), distinct-successor count
    * N1+(w1,·), continuation count N1+(·,w2) and distinct-bigram total
    * N1+(··). An UNSEEN prefix falls back to the pure continuation
    * probability; a word with no continuation mass scores p = 0 →
    * null cross_entropy/ppl for the WHOLE document (the null is
    * propagated explicitly — avg alone would silently skip the
    * unscorable gram while n_ngrams still counts it, yielding an
    * optimistic score). Callers must score vocab ⊆ train vocab
    * (self-scoring, the CCNet setup, always satisfies this).
    *
    * Scale shape identical to [[ngramLmScore]]: all count tables key
    * on 8-byte gram hashes (map-side-combined groupBys; gram text
    * never shuffles), scoring is three hash joins + one broadcast
    * scalar, one aggregation per document. The bigram count table is
    * persisted — three derived tables read it. */
  def ngramLmScoreKN(train: DataFrame, trainText: Column,
                     df: DataFrame, id: Column, text: Column,
                     discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"ngramLmScoreKN: discount must be in (0,1), got $discount")
    // (w1h, w2h) per bigram = adjacent unigram hashes, zipped
    // positionally from ONE native tokenize+hash pass (no gram string
    // materialization, no substring_index rescans)
    import org.apache.spark.sql.graft.NativeFunctions.wordNgramHashesNative
    // r17: the r16 spread before the tokenize+hash passes was removed
    // after the sf10 fires-branch A/B measured it a consistent loss
    // (see ngramLmScore) — the groupBy exchanges below already
    // redistribute the explode output.
    def bigramPairs(df: DataFrame, text: Column): DataFrame =
      df.select(text.as("__x"))
        .select(wordNgramHashesNative(col("__x"), 1).as("__t"))
        .select(explode(zip_with(
          slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
          slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
          (a, b) => struct(a.as("w1h"), b.as("w2h")))).as("z"))
        .select(col("z.w1h").as("w1h"), col("z.w2h").as("w2h"))
    val tb = bigramPairs(train, trainText)
    val cb = graft.util.Release.persist(tb.groupBy(col("w1h"), col("w2h"))
      .agg(count(lit(1)).as("c12")))
    val c1t = cb.groupBy(col("w1h"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val ncont = cb.groupBy(col("w2h"))
      .agg(count(lit(1)).as("ncont"))
    val nbig = cb.agg(count(lit(1)).as("nbig"))
    val docB = df.select(id.as("doc_id"), text.as("__x"))
      .select(col("doc_id"),
        wordNgramHashesNative(col("__x"), 1).as("__t"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
        slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1h"), b.as("w2h")))).as("z"))
      .select(col("doc_id"), col("z.w1h").as("w1h"),
        col("z.w2h").as("w2h"))
    val pCont = coalesce(col("ncont"), lit(0L)).cast("double") /
      col("nbig")
    val p = when(col("c1").isNull, pCont)
      .otherwise(
        greatest(coalesce(col("c12"), lit(0L)).cast("double") -
          discount, lit(0.0)) / col("c1") +
          (lit(discount) * col("n1f") / col("c1")) * pCont)
    docB
      .join(cb, Seq("w1h", "w2h"), "left")
      .join(c1t, Seq("w1h"), "left")
      .join(ncont, Seq("w2h"), "left")
      .crossJoin(broadcast(nbig))
      .select(col("doc_id"), (-log(p)).as("nl"))
      .groupBy(col("doc_id"))
      // any p <= 0 gram makes nl null (Spark log(0) = null); the
      // count(1)===count(nl) guard nulls the doc's score instead of
      // letting avg silently drop the unscorable gram.
      .agg(count(lit(1)).as("n_ngrams"),
        when(count(lit(1)) === count(col("nl")), avg(col("nl")))
          .as("cross_entropy"))
      .withColumn("ppl", exp(col("cross_entropy")))
  }

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    * 2020 §4.3): score every document with the n-gram LM, compute
    * per-group (per-language in CCNet) perplexity cut points at
    * `lowCut`/`highCut`, and label each document `head` (most fluent),
    * `middle`, or `tail`. Returns (doc_id, grp, ppl, bucket);
    * documents the LM cannot score (fewer than n tokens) are absent,
    * same contract as [[ngramLmScore]].
    *
    * `exact = false` (default, the scale path) computes cuts with
    * `approx_percentile` — one pass, mergeable sketch state, safe for
    * groups of any size. `exact = true` uses the exact `percentile`
    * aggregate (sorts each group's values in memory) — the oracle twin
    * for cross-engine checks, same pattern as the exact-quantile twins
    * in `util/Quantiles`. Either way the per-group cut table is tiny
    * and broadcast; the corpus never shuffles for the bucket label.
    *
    * Cut values that are exact binary fractions (0.25, 0.5, 0.75)
    * interpolate identically across engines; thirds (CCNet's choice)
    * are fine operationally but their interpolation weight is
    * FP-formula-sensitive at the last ulp, so cross-engine oracles
    * should prefer binary-fraction cuts. */
  def perplexityBuckets(train: DataFrame, trainText: Column,
                        df: DataFrame, id: Column, text: Column,
                        group: Column, lowCut: Double = 1.0 / 3,
                        highCut: Double = 2.0 / 3, n: Int = 2,
                        alpha: Double = 0.4,
                        exact: Boolean = false): DataFrame = {
    require(lowCut > 0 && lowCut < highCut && highCut < 1,
      s"perplexityBuckets: need 0 < lowCut < highCut < 1, " +
        s"got ($lowCut, $highCut)")
    // persist the scored frame: the plan reads it twice (the per-group
    // cut aggregation AND the bucket assignment) and LM scoring is the
    // expensive part — without this the whole count-model pipeline
    // runs twice. Tiny rows (doc_id, ppl); spills if a corpus doesn't
    // fit. The caller's innermost Release scope releases it (a plain
    // persist outside any scope).
    val scored = graft.util.Release.persist(
      ngramLmScore(train, trainText, df, id, text, n, alpha)
        .select(col("doc_id"), col("ppl")))
    val withG = df.select(id.as("doc_id"), group.as("grp"))
      .join(scored, Seq("doc_id"))
    def cut(p: Double): Column =
      if (exact) percentile(col("ppl"), lit(p))
      else percentile_approx(col("ppl"), lit(p), lit(10000))
    val cuts = withG.groupBy(col("grp"))
      .agg(cut(lowCut).as("__c1"), cut(highCut).as("__c2"))
    withG.join(broadcast(cuts), Seq("grp"))
      .withColumn("bucket",
        when(col("ppl") <= col("__c1"), "head")
          .when(col("ppl") <= col("__c2"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("grp"), col("ppl"), col("bucket"))
  }
}
