package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.LongLongMap

/** Text analysis for large-scale training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All the
  * scoring ops are pure `Column` algebra (codegen'd, no UDF) so they run
  * at full scan speed over 100 TB of documents; only the 64-bit
  * fingerprint is a UDF (cheap FNV-1a pass per doc).
  */
object TextOps {

  /** Stopword profiles for the n-gram language heuristic. Intentionally
    * tiny — the point is the *mechanism* (profile scoring as relational
    * algebra); swap in real profiles for production. */
  /** Space-delimited high-frequency function words per language. The
    * q_lang_id / q_clean_corpus oracle SQL is GENERATED from this map,
    * so profile changes stay engine-consistent automatically. Shared
    * words across languages (la/de/que/…) are fine — scoring is
    * comparative. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", " in ",
      " that ", " it ", " was ", " for ", " with ", " as "),
    "es" -> Seq(" el ", " la ", " de ", " que ", " los ", " las ",
      " en ", " una ", " por ", " con ", " para ", " del "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " das ", " nicht ",
      " ein ", " eine ", " mit ", " auf ", " den ", " von "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des ", " une ",
      " dans ", " est ", " pour ", " que ", " qui ", " au "))

  private def countOcc(c: Column, pat: String): Column =
    (length(c) - length(regexp_replace(c, pat, ""))).cast("double") /
      math.max(pat.length, 1)

  /** Non-overlapping left-to-right substring count — the same count
    * `regexp_replace` removal yields, without materializing a new
    * string per pattern. */
  private def occurrences(s: String, w: String): Int = {
    var cnt = 0; var i = s.indexOf(w)
    while (i >= 0) { cnt += 1; i = s.indexOf(w, i + w.length) }
    cnt
  }

  /** Per-language stopword score with argmax prediction; "zh" wins if
    * any CJK codepoints are present. One UDF pass per document (the
    * naïve column form runs 20 regexp-replace passes, each allocating a
    * document-sized string — 20× the memory traffic for the same
    * counts). Tie-break: first language in code order. */
  def langId(text: Column): Column = {
    val ordered = langProfiles.toSeq.sortBy(_._1)
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        var hasCjk = false
        var i = 0
        while (i < t.length && !hasCjk) {
          val c = t.charAt(i)
          if (c >= 0x4e00 && c <= 0x9fff) hasCjk = true
          i += 1
        }
        if (hasCjk) "zh"
        else {
          val padded = " " + t.toLowerCase + " "
          var bestLang = ordered.head._1
          var bestScore = -1.0
          ordered.foreach { case (lang, words) =>
            var s = 0.0
            words.foreach(w => s += occurrences(padded, w).toDouble)
            if (s > bestScore) { bestScore = s; bestLang = lang }
          }
          bestLang
        }
      }
    }
    f(text)
  }

  /** Whitespace token count. (pure algebra) */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token estimate: alpha runs, digit runs and punctuation each
    * count; long words count ~len/4 subtokens (the published ~4 chars per
    * subword rule of thumb). */
  def tokenCountBpe(text: Column): Column = {
    val words = split(lower(trim(text)), "\\s+")
    aggregate(words, lit(0L), (acc, w) =>
      acc + greatest(ceil(length(w).cast("double") / 4.0).cast("long"),
        lit(1L)))
  }

  /** Quality heuristics: chars, tokens, mean word length, punctuation
    * ratio, digit ratio, stopword ratio, plus a composite [0,1] score —
    * the standard pretraining-filter features, all codegen algebra. */
  def qualityFeatures(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val meanWordLen = (nChars - nTokens + 1.0) / nTokens
    val punct = length(regexp_replace(text, "[^.,;:!?]", ""))
      .cast("double") / nChars
    val digits = length(regexp_replace(text, "[^0-9]", ""))
      .cast("double") / nChars
    val stop = langProfiles("en").map(w =>
      countOcc(concat(lit(" "), lower(text), lit(" ")), w))
      .reduce(_ + _) / nTokens
    val score =
      when(nTokens < 5, 0.0).otherwise(
        least(lit(1.0),
          greatest(lit(0.0),
            lit(1.0)
              - abs(meanWordLen - 5.0) / 10.0
              - punct * 2.0
              - digits * 2.0)))
    struct(nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      meanWordLen.as("mean_word_len"),
      punct.as("punct_ratio"),
      digits.as("digit_ratio"),
      stop.as("stopword_ratio"),
      score.as("quality"))
  }

  /** Flesch readability signals (Flesch 1948 / Kincaid 1975, public
    * formulas) — the classic curation complement to [[qualityFeatures]]
    * for education-quality filtering:
    * ease = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    * Syllables use the standard vowel-group heuristic (maximal
    * `[aeiouy]+` runs per lowercased word, floor 1); sentences count
    * `[.!?]+` runs in the RAW text, floor 1. Texts with no letter
    * tokens yield a null struct.
    *
    * Pure codegen Column algebra (split/regexp/higher-order aggregate,
    * no UDF) — row-local, rides the scan; the identical arithmetic is
    * replayable in SQL, which is how the oracle checks it. */
  def readability(text: Column): Column = {
    val toks = filter(
      split(regexp_replace(lower(text), "[^a-z]+", " "), " "),
      w => length(w) > 0)
    val nWords = size(toks).cast("double")
    val sylls = aggregate(toks, lit(0L), (acc, w) => acc +
      greatest(lit(1L), size(call_function("regexp_extract_all",
        w, lit("[aeiouy]+"), lit(0))).cast("long")))
    val nSent = greatest(lit(1L),
      size(call_function("regexp_extract_all",
        text, lit("[.!?]+"), lit(0))).cast("long"))
    val wps = nWords / nSent.cast("double")
    val spw = sylls.cast("double") / nWords
    when(nWords > 0, struct(
      nWords.cast("long").as("n_words"),
      sylls.as("n_syllables"),
      nSent.as("n_sentences"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
        .as("flesch_ease"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
        .as("fk_grade")))
  }

  /** Compression-ratio quality signal: deflate(level 6, raw) bytes /
    * UTF-8 bytes of the text, null for empty text. Low ratio ⇒
    * repetitive/templated/degenerate content, high ratio ⇒
    * natural-entropy prose (or base64/binary junk above it) — the
    * standard cheap complement to [[qualityFeatures]] and
    * [[repetitionSignals]] in pretraining filters. Native codegen
    * kernel ([[org.apache.spark.sql.graft.DeflateRatio]]): row-local,
    * rides the scan, thread-local Deflater, no UDF SerDe. */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.deflateRatioNative(text)

  /** Word n-grams of `text` as an array column (lowercased, whitespace
    * tokens; empty array when the text has fewer than n tokens — also
    * for blank/whitespace-only text, where split would otherwise yield
    * one empty-string token and n=1 would emit a bogus "" gram). Pure
    * Column algebra — `sequence` + `transform`, codegen'd, no UDF. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "wordNgrams: n must be >= 1")
    // The token array MUST be bound as a lambda variable before the
    // per-gram element_at reads: Catalyst does not CSE a subexpression
    // into lambda bodies, so inlining `split` directly would re-run the
    // full regex tokenization once per element_at — O(words · n)
    // re-tokenizations per document instead of one (measured 27 s vs
    // 0.3 s on 5k docs at n=8). Wrapping the array in a 1-element array
    // and `transform`ing evaluates split exactly once.
    val gramsOf = (t: Column) =>
      when(size(t) >= n && element_at(t, 1) =!= "",
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(t, i + k + 1)): _*)))
        .otherwise(array().cast("array<string>"))
    element_at(
      transform(array(split(lower(trim(text)), "\\s+")), gramsOf), 1)
  }

  /** Benchmark-contamination check: which training documents share any
    * word `n`-gram with a benchmark/eval corpus (the standard membership
    * screen run before pretraining — e.g. GPT-3 appendix C's 13-gram
    * overlap). Returns (doc_id, n_hits) where n_hits counts DISTINCT
    * contaminated n-grams per document; clean documents are absent
    * (left-join downstream for a full report).
    *
    * Scale shape: the benchmark side is small by construction (eval
    * suites, not the corpus), so its distinct gram set broadcasts; the
    * corpus side explodes and probes the broadcast hash BEFORE any
    * shuffle — the only exchange is the per-doc count over the
    * (rare) surviving hits. */
  def ngramContamination(docs: DataFrame, docId: Column, docText: Column,
                         bench: DataFrame, benchText: Column,
                         n: Int = 8): DataFrame = {
    val bg = bench.select(explode(wordNgrams(benchText, n)).as("g"))
      .distinct()
    docs.select(docId.as("doc_id"),
        explode(wordNgrams(docText, n)).as("g"))
      .join(broadcast(bg), "g")
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Persistable decontamination index: the DISTINCT n-gram hash set
    * of an eval/benchmark corpus — write this once per benchmark
    * release (partition-friendly 8-byte rows) and screen every new
    * corpus batch against it with [[ngramContaminationIndexed]], so
    * benchmarks are never re-fetched or re-tokenized per ingest. Same
    * incremental-state pattern as [[minHashBandTable]]. Gram hashing
    * runs through the native [[org.apache.spark.sql.graft.WordNgramHashes]]
    * kernel (bit-for-bit `xxhash64(wordNgrams)`). */
  def contaminationIndex(bench: DataFrame, benchText: Column,
                         n: Int = 8): DataFrame =
    bench.select(explode(org.apache.spark.sql.graft.NativeFunctions
        .wordNgramHashesNative(benchText, n)).as("gh"))
      .distinct()

  /** [[ngramContamination]] against a pre-built [[contaminationIndex]]
    * — (doc_id, n_hits) with hits counted at gram-HASH resolution
    * (the documented 64-bit birthday trade: a collision can only
    * merge two distinct grams, shrinking n_hits by at most the
    * collision count; at benchmark sizes the sets are identical). The
    * index broadcasts; the corpus probes it before any shuffle. */
  def ngramContaminationIndexed(docs: DataFrame, docId: Column,
                                docText: Column, index: DataFrame,
                                n: Int = 8): DataFrame =
    docs.select(docId.as("doc_id"),
        explode(org.apache.spark.sql.graft.NativeFunctions
          .wordNgramHashesNative(docText, n)).as("gh"))
      .join(broadcast(index), "gh")
      .select(col("doc_id"), col("gh")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))

  /** Gopher-style repetition quality signals per document (Rae et al.
    * 2021, "Scaling Language Models" §A1.1 repetition filters): the
    * fraction of line instances that are repeats of an earlier line,
    * the fraction of characters sitting in duplicated lines, the share
    * of all word n-grams taken by the single most frequent one, and the
    * fraction of n-gram instances that occur more than once. High
    * values flag boilerplate/spam documents for pretraining-data
    * filtering.
    *
    * Shapes for scale: lines and n-grams explode to narrow (doc, item)
    * rows and aggregate with two hash shuffles each — never a
    * quadratic, never a collect; the n-gram generator is pure Column
    * algebra (`sequence` + `transform`). Docs whose text yields no
    * qualifying lines/n-grams report 0.0 (no repetition).
    *
    * Output: (doc, n_lines, dup_line_frac, dup_line_char_frac,
    * top_ngram_frac, dup_ngram_frac). */
  def repetitionSignals(df: DataFrame, id: Column, text: Column,
                        n: Int = 2): DataFrame = {
    require(n >= 1, "repetitionSignals: n-gram order must be >= 1")
    val lines = df.select(id.as("doc"),
        explode(split(text, "\n")).as("raw"))
      .select(col("doc"), trim(col("raw")).as("line"))
      .filter(length(col("line")) > 0)
    val lineCnt = lines.groupBy(col("doc"), col("line"))
      .agg(count(lit(1)).as("c"))
      .withColumn("len", length(col("line")).cast("long"))
    val lineSig = lineCnt.groupBy(col("doc")).agg(
      sum(col("c")).as("n_lines"),
      count(lit(1)).as("n_distinct"),
      sum(col("c") * col("len")).as("chars_all"),
      sum(when(col("c") > 1, col("c") * col("len")).otherwise(0L))
        .as("chars_dup"))
    val toks = df.select(id.as("doc"),
      split(lower(trim(text)), "\\s+").as("t"))
    val gram = transform(sequence(lit(0), size(col("t")) - n),
      i => concat_ws(" ",
        (0 until n).map(k => element_at(col("t"), i + k + 1)): _*))
    val ngrams = toks
      .select(col("doc"),
        explode(when(size(col("t")) >= n, gram)
          .otherwise(array().cast("array<string>"))).as("g"))
    val ngCnt = ngrams.groupBy(col("doc"), col("g"))
      .agg(count(lit(1)).as("c"))
    val ngSig = ngCnt.groupBy(col("doc")).agg(
      sum(col("c")).as("n_ng"),
      max(col("c")).as("max_c"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    // anchor on the input docs: a doc can lack lines (whitespace text)
    // or n-grams (fewer than n tokens) independently and must still
    // report zeros; all three joins hash on doc
    df.select(id.as("doc"))
      .join(lineSig, Seq("doc"), "left")
      .join(ngSig, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce((col("n_lines") - col("n_distinct")).cast("double") /
          col("n_lines"), lit(0.0)).as("dup_line_frac"),
        coalesce(col("chars_dup").cast("double") / col("chars_all"),
          lit(0.0)).as("dup_line_char_frac"),
        coalesce(col("max_c").cast("double") / col("n_ng"), lit(0.0))
          .as("top_ngram_frac"),
        coalesce(col("dup_c").cast("double") / col("n_ng"), lit(0.0))
          .as("dup_ngram_frac"))
  }

  /** 64-bit FNV-1a fingerprint of whitespace-normalized lowercase text.
    * Deterministic across engines/runs; collision odds at 10⁹ docs
    * ≈ 2.7e-2 (birthday) — use 128-bit pairing for exactness at that
    * scale. Runs as a native codegen'd Catalyst expression
    * ([[org.apache.spark.sql.graft.Fingerprint64]]) — no UDF SerDe on
    * the per-document hot path. */
  def fingerprint64(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.fingerprint64Native(text)

  /** Exact dedup: keep the first doc (min of `keep`) per normalized-text
    * fingerprint. One shuffle on the fingerprint — the hash-groupBy
    * pattern that scales linearly. */
  def exactDedup(df: DataFrame, text: Column, keep: Column): DataFrame = {
    val fp = fingerprint64(text)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(fp)
      .orderBy(keep)
    df.withColumn("__pds_rn", row_number().over(w))
      .filter(col("__pds_rn") === 1).drop("__pds_rn")
  }

  /** Default path: exact all-pairs Jaccard within each block via
    * triangle sub-block partitioning. Each doc is assigned a sub-group
    * g = hash(id) mod G and replicated to the G buckets {(min(g,x),
    * max(g,x)) : x < G}; bucket (a,a) compares within-group pairs,
    * bucket (a,b), a<b, compares only cross-group pairs — every pair is
    * examined in exactly one bucket, so the result is identical to a
    * single block-local pass, but the quadratic work spreads over
    * G·(G+1)/2 tasks per block and per-task memory drops ~G-fold.
    * Tokens are pre-hashed (xxhash64) and sorted in codegen'd Column
    * space so the pair kernel is a primitive sorted-long merge, with a
    * size-ratio prefilter (J ≥ t ⟹ min·/max ≥ t) skipping hopeless
    * pairs in O(1). Blocks above `routeThreshold` take the SSJoin
    * prefix leg instead, which never materializes a block. */
  /** `shingleK = 1` (default) compares word SETS; `shingleK > 1`
    * compares k-word shingle sets — the similarity MinHash estimates —
    * with [[minHashSignature]]'s whole-text edge case for docs of ≤ k
    * words, so this doubles as minhash's exact twin. */
  /** `routeThreshold`: the per-block doc count above which a block is
    * routed to the SSJoin prefix-filter leg instead of the triangle
    * leg. The triangle leg's work is quadratic in block size (spread
    * over sub-block tasks but not reduced) while the prefix leg is
    * linear in true candidate volume — the r12 sf10 sweep measured the
    * all-triangle path super-linear (29.9× at the 10× step) exactly
    * because fixed-cardinality block keys turn data growth into
    * block-size growth. The hybrid routes per block on the SAME lazy
    * count the sizing leg already computes, so a 100 TB run with a few
    * catch-all hot blocks pays linear cost on those and keeps the
    * cheap triangle kernel everywhere else. Both legs tokenize with
    * the same codegen kernel and verify with an exact sorted-merge
    * intersection, so the routing is invisible in the output: same
    * pairs, same jaccard values, any threshold.
    *
    * The default sits at the r13-measured crossover: at the sf10
    * executor-shape rung (20 blocks × 25k docs, realistic clique dup
    * density), the triangle leg costs ~k·n² with k ≈ 6.2e-9 s (77 s
    * for the rung) and the prefix leg ~3.0e-4 s/doc (149 s) —
    * k·n² = c·n at n ≈ 48k docs/block. Below that the exact all-pairs
    * kernel is simply FASTER; above it the prefix leg wins and keeps
    * the cost linear in block size forever. The sweep's
    * `jaccard_prefix_hybrid` probe (routeThreshold forced to 10) pins
    * the prefix leg's linear cross-rung slope every round. */
  def jaccardDupPairs(df: DataFrame, id: Column, text: Column,
                      block: Column, threshold: Double,
                      subBlocks: Int = 4, shingleK: Int = 1,
                      routeThreshold: Long = 50000L): DataFrame = {
    require(routeThreshold >= 1L,
      s"jaccardDupPairs: routeThreshold must be >= 1, got $routeThreshold")
    // tokenizer: native codegen kernel ([[org.apache.spark.sql.graft
    // .SortedTokenHashes]]) — trim/lower/split/shingle/hash/distinct/
    // sort in one zero-alloc primitive pass inside whole-stage codegen,
    // no UDF SerDe on the per-document hot path (bit-for-bit the
    // historical UDF formulation; NativeExprSpec pins the parity).
    // Tokenization is applied AFTER routing: the sizing/routing count
    // leg reads only the block column (column-pruned at the scan), and
    // each document is tokenized exactly once, in whichever leg its
    // block routed to.
    def tokenize(d: DataFrame): DataFrame =
      d.withColumn("ws", org.apache.spark.sql.graft.NativeFunctions
        .sortedTokenHashesNative(col("__txt"), shingleK)).drop("__txt")
    // tokenization is the dominant per-row cost and rides the scan
    // stage: guard against a single-split input serializing it
    // (guide §2.5 input skew; no-op when the scan already parallelizes)
    val base = graft.util.Spread.byKey(
      df.select(block.as("block"), id.cast("long").as("i"),
        text.as("__txt")), col("i"))
    // Count-based routing. The count leg is the SAME lazy per-block
    // sizing aggregation the triangle leg always needed (see the sizing
    // comment in jaccardTriangleLeg) — routing adds zero extra jobs:
    // blocks at or below routeThreshold keep the triangle kernel (with
    // their count-derived split factor), larger blocks divert to the
    // linear SSJoin prefix leg.
    val cnts = base.groupBy(col("block").as("__cb"))
      .agg(count(lit(1)).as("__cnt"))
    val counted = base.join(cnts, col("block") <=> col("__cb"))
      .drop("__cb")
    val small = tokenize(counted.filter(col("__cnt") <= routeThreshold))
      .withColumn("__sb", greatest(lit(subBlocks),
        least(lit(64L), ceil(col("__cnt") / lit(1500.0))).cast("int")))
      .drop("__cnt")
    val large = tokenize(counted.filter(col("__cnt") > routeThreshold))
      .drop("__cnt")
    jaccardTriangleLeg(small, threshold)
      .unionByName(jaccardPrefixLegHashed(large, threshold))
  }

  /** The pair kernel of the triangle leg: one bucket's docs → the
    * (id1, id2, jaccard) pairs meeting the threshold, comparing
    * within-group pairs in the (a,a) bucket and only cross-group pairs
    * in (a,b) buckets so every pair is examined exactly once.
    *
    * r15: the comparison loop is no longer all-pairs. The r14 sweep's
    * one super-linear cell (q_dup_clusters 10× data → 22-23× time)
    * attributed entirely to this kernel: at the salt-fixture shape the
    * rungs grow BLOCK SIZE, so the all-pairs loop's comparison count
    * grew quadratically (Σc²/2 length-checks + merges) while true pair
    * volume grew exactly 10×. The loop is replaced by a bucket-local
    * SSJoin prefix-filter index (Chaudhuri et al., ICDE'06 — the same
    * theorem the distributed prefix leg already relies on): order the
    * bucket's tokens by ascending bucket-local document frequency; two
    * sets with J ≥ t MUST share a token within their first
    * n − ⌈t·n⌉ + 1 tokens under ANY bucket-wide total order, so only
    * pairs sharing a prefix posting are verified. Work becomes
    * O(tokens + postings walked + true-candidate merges) — linear in
    * candidate volume, never quadratic in bucket size; on pure
    * duplicate cliques (where candidates ARE the true pairs) the index
    * adds ≤ ~25% over the unavoidable merge cost. Output is
    * bit-identical to the all-pairs loop (exact recall, exact jaccard;
    * TextSimSpec pins kernel ≡ brute force on random corpora).
    * Threshold ≤ 0 keeps the all-pairs loop: plen would cover the
    * whole doc yet disjoint pairs (J = 0 ≥ t) share no token. */
  private val jaccardPairUdf = udf((docs: Seq[org.apache.spark.sql.Row],
                       ga: Int, gb: Int, t: Double) => {
      val n = docs.length
      // fail loud instead of silently OOMing or going quadratic: past
      // this, raise subBlocks or lower routeThreshold
      require(n <= 200000,
        s"jaccardDupPairs: bucket of $n docs exceeds the collect cap; " +
          "raise subBlocks or lower routeThreshold")
      val ids = new Array[Long](n)
      val grp = new Array[Int](n)
      val tok = new Array[Array[Long]](n)
      var i = 0
      // iterate (never index) the docs Seq — it's a List at udf call
      // sites, where docs(i) would cost O(i) per access
      val docIt = docs.iterator
      while (i < n) {
        val r = docIt.next()
        ids(i) = r.getLong(0)
        grp(i) = r.getInt(1)
        tok(i) = r.getSeq[Long](2).toArray // distinct+sorted upstream
        i += 1
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      def compare(i: Int, j: Int): Unit = {
        val n1 = tok(i).length; val n2 = tok(j).length
        if (math.min(n1, n2).toDouble >= t * math.max(n1, n2)) {
          val x = tok(i); val y = tok(j)
          var p = 0; var q = 0; var common = 0
          while (p < n1 && q < n2) {
            if (x(p) < y(q)) p += 1
            else if (x(p) > y(q)) q += 1
            else { common += 1; p += 1; q += 1 }
          }
          val jac = common.toDouble / (n1 + n2 - common)
          if (jac >= t) {
            val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j))
            else (ids(j), ids(i))
            out += ((a, b, jac))
          }
        }
      }
      if (t <= 0.0) {
        // degenerate threshold: every pair qualifies (J = 0 passes),
        // prefix filtering is inapplicable — keep the all-pairs loops
        if (ga == gb) {
          i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) { compare(i, j); j += 1 }
            i += 1
          }
        } else {
          val ia = Array.newBuilder[Int]; val ib = Array.newBuilder[Int]
          i = 0
          while (i < n) {
            if (grp(i) == ga) ia += i else ib += i
            i += 1
          }
          val aIdx = ia.result(); val bIdx = ib.result()
          var p = 0
          while (p < aIdx.length) {
            var q = 0
            while (q < bIdx.length) { compare(aIdx(p), bIdx(q)); q += 1 }
            p += 1
          }
        }
      } else {
        // ---- bucket-local prefix-filter index (all primitive) ----
        // 1. bucket-wide token document frequency (the rarity order)
        val dfm = new LongLongMap(1 << 10)
        i = 0
        while (i < n) {
          val a = tok(i); var k = 0
          while (k < a.length) { dfm.add(a(k), 1); k += 1 }
          i += 1
        }
        // 2. per-doc prefix = the plen tokens smallest under (df, hash)
        val prefix = new Array[Array[Long]](n)
        i = 0
        while (i < n) {
          val a = tok(i); val m = a.length
          val plen =
            if (m == 0) 0 else m - math.ceil(t * m).toInt + 1
          if (plen <= 0) prefix(i) = Array.emptyLongArray
          else if (plen >= m) prefix(i) = a
          else {
            val cp = a.clone()
            sortByDf(cp, dfm)
            prefix(i) = java.util.Arrays.copyOf(cp, plen)
          }
          i += 1
        }
        // 3. probe/insert an inverted index over prefix tokens.
        // Postings are a token→head map (absent → -1) over parallel
        // (doc, next) arrays — a linked bucket list, no per-token
        // allocation.
        var postDoc = new Array[Int](1024)
        var postNext = new Array[Int](1024)
        var postN = 0
        val heads = new LongLongMap(1 << 10)
        val stamp = new Array[Int](n)
        java.util.Arrays.fill(stamp, -1)
        def insert(doc: Int): Unit = {
          val pf = prefix(doc); var k = 0
          while (k < pf.length) {
            if (postN == postDoc.length) {
              postDoc = java.util.Arrays.copyOf(postDoc, postN << 1)
              postNext = java.util.Arrays.copyOf(postNext, postN << 1)
            }
            postDoc(postN) = doc
            postNext(postN) = heads.getAndPut(pf(k), postN, -1).toInt
            postN += 1
            k += 1
          }
        }
        def probe(doc: Int): Unit = {
          val pf = prefix(doc); var k = 0
          while (k < pf.length) {
            var e = heads.get(pf(k), -1).toInt
            while (e >= 0) {
              val j = postDoc(e)
              if (stamp(j) != doc) { stamp(j) = doc; compare(doc, j) }
              e = postNext(e)
            }
            k += 1
          }
        }
        if (ga == gb) {
          // self-join: probe-then-insert visits each pair exactly once
          i = 0
          while (i < n) { probe(i); insert(i); i += 1 }
        } else {
          // cross bucket: index side b, probe side a — exactly the
          // |A|×|B| candidate space, each cross pair examined once
          i = 0
          while (i < n) { if (grp(i) == gb) insert(i); i += 1 }
          i = 0
          while (i < n) { if (grp(i) == ga) probe(i); i += 1 }
        }
      }
      out.result()
    })

  /** In-place quicksort of token hashes by (bucket df asc, hash asc) —
    * the prefix rarity order, primitive throughout (a comparator sort
    * would box every element). Insertion sort below 16. */
  private def sortByDf(a: Array[Long], dfm: LongLongMap): Unit = {
    def less(x: Long, y: Long): Boolean = {
      val dx = dfm.get(x, 0); val dy = dfm.get(y, 0)
      dx < dy || (dx == dy && x < y)
    }
    def sort(lo: Int, hi: Int): Unit = {
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          val v = a(i); var j = i - 1
          while (j >= lo && less(v, a(j))) { a(j + 1) = a(j); j -= 1 }
          a(j + 1) = v
          i += 1
        }
      } else {
        // median-of-three pivot
        val mid = (lo + hi) >>> 1
        if (less(a(mid), a(lo))) { val t = a(lo); a(lo) = a(mid); a(mid) = t }
        if (less(a(hi), a(lo))) { val t = a(lo); a(lo) = a(hi); a(hi) = t }
        if (less(a(hi), a(mid))) { val t = a(mid); a(mid) = a(hi); a(hi) = t }
        val pivot = a(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (less(a(i), pivot)) i += 1
          while (less(pivot, a(j))) j -= 1
          if (i <= j) {
            val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1
          }
        }
        if (lo < j) sort(lo, j)
        if (i < hi) sort(i, hi)
      }
    }
    if (a.length > 1) sort(0, a.length - 1)
  }

  /** The triangle leg: `sized` carries (block, i, ws, __sb) where
    * `__sb` is the per-row split factor G (all rows of a block share
    * it). `subBlocks` is a FLOOR, not the final split: hot blocks (the
    * Zipfian hot-host reality) auto-split further so the largest
    * bucket stays ~≤3000 docs. Without this, one hot domain
    * concentrates its whole block into a few collect_list groups and
    * the reduce-side ObjectHashAggregate (which buffers up to its
    * 128-group fallback threshold) multiplies that into executor
    * OOM — observed in the r11 skew validation: a 15.6k-doc hot
    * domain killed 1 GiB executors at the cluster shape.
    *
    * The split factor is PER BLOCK and LAZY: per-block counts join
    * back on the block key inside the same job (no eager sizing scan
    * at call time — the count leg is a column-pruned branch of the
    * same lineage, and AQE broadcast-joins the tiny count table), and
    * only the blocks that ARE hot pay a larger explode fan-out — a
    * 20k-doc hot host no longer multiplies the replication of the
    * 99% of blocks that didn't need it (and past `routeThreshold` the
    * block leaves this leg entirely). Results are identical for any
    * split: every within-block pair shares its block's factor, so the
    * pair-in-exactly-one-bucket proof holds block-locally. */
  private def jaccardTriangleLeg(sized: DataFrame,
                                 threshold: Double): DataFrame = {
    val withG = sized.withColumn("g",
      pmod(hash(col("i")), col("__sb")).cast("int"))
    val buckets = withG.select(col("block"), col("i"), col("g"), col("ws"),
      explode(transform(sequence(lit(0), col("__sb") - 1), x =>
        struct(least(col("g"), x).as("a"),
          greatest(col("g"), x).as("b")))).as("bk"))
    // the per-doc buckets are pairwise distinct: (g,g) once for x=g,
    // and (min(g,x),max(g,x)) differs for every x≠g — no dedup needed
    //
    // Explicit-count repartition on the bucket key BEFORE the groupBy:
    // the pair kernel's cost is quadratic in bucket size, not linear in
    // bytes, so AQE's byte-based coalescing is the wrong policy for its
    // stage (measured: it folds every bucket into ONE task at bench
    // scale). An explicit partition count survives AQE, the groupBy
    // reuses the same hash partitioning (no second exchange), and
    // defaultParallelism tracks the real cluster size.
    buckets
      .repartition(sized.sparkSession.sparkContext.defaultParallelism,
        col("block"), col("bk"))
      .groupBy(col("block"), col("bk"))
      .agg(collect_list(struct(col("i"), col("g"), col("ws"))).as("docs"))
      .select(col("block"),
        explode(jaccardPairUdf(col("docs"), col("bk.a"), col("bk.b"),
          lit(threshold))).as("p"))
      .select(col("block"), col("p._1").as("id1"), col("p._2").as("id2"),
        col("p._3").as("jaccard"))
  }

  /** The large-block leg: SSJoin prefix filtering (Chaudhuri et al.)
    * over the SAME hashed-token arrays the triangle leg compares, so
    * the two legs are output-identical (same tokens, same exact
    * jaccard — verified by a primitive sorted-merge intersection, the
    * codegen [[org.apache.spark.sql.graft.SortedLongIntersectSize]]
    * kernel). Tokens are ordered by ascending per-block document
    * frequency; two sets with J ≥ t must share a token in their first
    * n − ⌈t·n⌉ + 1 tokens, so only those enter the candidate join —
    * cost linear in candidates, never quadratic in block size, no
    * bucket materialization. Block keys ride inside a 1-field struct
    * so NULL blocks join/group like any other value (struct ordering
    * treats null fields as equal), matching the triangle leg's
    * null-safe grouping. */
  private def jaccardPrefixLegHashed(base: DataFrame,
                                     threshold: Double): DataFrame = {
    val b0 = base.select(struct(col("block").as("v")).as("bk"),
      col("i"), col("ws"))
      .withColumn("nw", size(col("ws")))
    val words = b0.select(col("bk"), col("i"), col("nw"),
      explode(col("ws")).as("w"))
    // per-(block, token) document frequency → rarity order
    val dfreq = words.groupBy(col("bk").as("__fb"), col("w").as("__fw"))
      .agg(count(lit(1)).as("df"))
    val ranked = words
      .join(dfreq, col("bk") === col("__fb") && col("w") === col("__fw"))
      .drop("__fb", "__fw")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("bk"), col("i"))
          .orderBy(col("df"), col("w"))))
      .withColumn("plen",
        col("nw") - ceil(col("nw") * threshold).cast("int") + 1)
      .filter(col("rn") <= col("plen"))
      .select(col("bk"), col("i"), col("w"))
    // candidate pairs from prefix tokens only; id1 < id2 matches the
    // triangle kernel's (min, max) emission order
    val cand = ranked.as("l")
      .join(ranked.as("r"),
        col("l.bk") === col("r.bk") && col("l.w") === col("r.w") &&
          col("l.i") < col("r.i"))
      .select(col("l.bk").as("bk"), col("l.i").as("id1"),
        col("r.i").as("id2"))
      .distinct()
    // verify candidates exactly: size-ratio prefilter (J ≥ t ⟹
    // min/max ≥ t, same O(1) skip as the triangle kernel), then the
    // sorted-merge intersection
    val s1 = b0.select(col("bk"), col("i").as("id1"),
      col("ws").as("ws1"), col("nw").as("n1"))
    val s2 = b0.select(col("bk"), col("i").as("id2"),
      col("ws").as("ws2"), col("nw").as("n2"))
    cand.join(s1, Seq("bk", "id1")).join(s2, Seq("bk", "id2"))
      .filter(least(col("n1"), col("n2")).cast("double") >=
        lit(threshold) * greatest(col("n1"), col("n2")))
      .withColumn("common", org.apache.spark.sql.graft.NativeFunctions
        .sortedIntersectSizeNative(col("ws1"), col("ws2")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("bk.v").as("block"), col("id1"), col("id2"),
        col("jaccard"))
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** Deterministic 64-bit string hash (splitmix-style avalanche of
    * FNV-1a), salted by seed — shared with the native SimHash64
    * expression so simhash and minhash agree on token hashes. */
  private def saltedHash(s: String, seed: Long): Long =
    org.apache.spark.sql.graft.SimHash64.saltedHash(s, seed)

  /** MinHash signature over `k`-word shingles, `numHashes` permutations.
    * Returns array<long>. (the shingle→minhash step of MinHash-LSH) */
  def minHashSignature(text: Column, k: Int = 3, numHashes: Int = 128)
      : Column =
    // r15: native codegen kernel ([[org.apache.spark.sql.graft
    // .MinHashSig]]) — signing is the dominant compute of every
    // minhash call (128 derivation steps per shingle per document),
    // and the historical UDF paid a SerDe boundary plus a boxed
    // Seq[Long] per row on the 100 TB hot path. Hash-for-hash the UDF
    // formulation (NativeExprSpec pins the parity against
    // [[minHashSignatureUdf]]).
    org.apache.spark.sql.graft.NativeFunctions
      .minHashSigNative(text, k, numHashes)

  /** The historical UDF formulation of [[minHashSignature]] — kept
    * (test-only) as the executable spec the native kernel is
    * parity-pinned against. */
  private[graft] def minHashSignatureUdf(text: Column, k: Int = 3,
                                         numHashes: Int = 128): Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        // Locale.ROOT: the native kernel lower-cases locale-
        // independently; a default-locale toLowerCase here would make
        // the parity spec diverge on Turkic default locales (r15
        // ADVICE) — same rule as SimHash64.compute
        val words = s.toLowerCase(java.util.Locale.ROOT).trim
          .split("\\s+")
        val shingles: Seq[String] =
          if (words.length <= k) Seq(words.mkString(" "))
          else (0 to words.length - k).map(i =>
            words.slice(i, i + k).mkString(" "))
        val sig = Array.fill(numHashes)(Long.MaxValue)
        // hash each shingle ONCE, then derive the hash family by a
        // splitmix64 finalizer over (base, i): same uniformity, and the
        // string is scanned once instead of numHashes times
        shingles.foreach { sh =>
          val base = saltedHash(sh, 0L)
          var i = 0
          while (i < numHashes) {
            var h = base + i.toLong * 0x9E3779B97F4A7C15L
            h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
            h ^= (h >>> 27); h *= 0x94D049BB133111EBL
            h ^= (h >>> 31)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        sig
      }
    }
    f(text)
  }

  /** LSH banding: signature → array of (bandIndex, bandHash) structs;
    * explode + groupBy bucket to find candidates. bands·rows must equal
    * the signature length. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    lshBandsUdf(sig, lit(bands), lit(rows))

  /** [[lshBands]]' one UDF, with `bands` and `rows` as literal
    * arguments: ScalaUDF equality is closure identity, so a UDF built
    * per call would make two band tables over one input never
    * `sameResult` and defeat the CacheManager's lookup. */
  private val lshBandsUdf = udf { (s: Seq[Long], bands: Int, rows: Int) =>
    if (s == null) null
    else {
      val a = s.toArray // List at udf call sites: O(1) indexing after
      (0 until bands).map { b =>
        var h = 0xcbf29ce484222325L
        var i = b * rows
        while (i < (b + 1) * rows) {
          h ^= a(i); h *= 0x100000001b3L; i += 1
        }
        (b, h)
      }
    }
  }

  /** Estimated Jaccard of two minhash signatures: the fraction of
    * `a`'s permutation slots that agree with `b`'s (the unbiased
    * MinHash estimator). Iterates, never indexes: the Seqs are Lists at
    * udf call sites. Shared with
    * `StreamOps.streamingIncrementalMinHashDupPairs`' bucket state. */
  private[graft] def agreement(a: Seq[Long], b: Seq[Long]): Double = {
    val ia = a.iterator; val ib = b.iterator
    var n = 0; var eq = 0
    while (ia.hasNext) {
      val x = ia.next(); n += 1
      if (ib.hasNext && ib.next() == x) eq += 1
    }
    eq.toDouble / n
  }

  /** [[agreement]] as a udf. Marked nondeterministic only to keep the
    * optimizer from inlining it: a deterministic alias is substituted
    * into the `>= threshold` filter pushed below its Project, and the
    * 128-slot loop then ran twice per candidate pair (Filter and
    * Project). */
  private[graft] val sigAgreement =
    udf((a: Seq[Long], b: Seq[Long]) => agreement(a, b)).asNondeterministic()

  /** MinHash-LSH near-duplicate candidate pairs: sign → band → bucket
    * self-join → estimated jaccard from signature agreement ≥ threshold.
    * Scales as Σ bucket² instead of n².
    *
    * `blocking`: optional partition column (language, domain, shard —
    * the [[simHashDupPairs]]/[[jaccardDupPairs]] pattern, r15 parity
    * ask): when set, pairs never cross blocks and the effective band
    * key space multiplies by the block cardinality. NULL blocks match
    * each other (struct-wrapped null-safe key). */
  def minHashDupPairs(df: DataFrame, id: Column, text: Column,
                      threshold: Double, k: Int = 3, numHashes: Int = 128,
                      bands: Int = 16,
                      blocking: Option[Column] = None): DataFrame =
      graft.util.Release.scoped(df.sparkSession) {
    // Persist ONLY the narrow (id, blk, signature) frame — ~1 KB/doc —
    // so re-shingling + the 128-hash minhash (the dominant compute)
    // runs exactly once per document. The band rows are DERIVED lazily
    // from the cached signatures wherever the plan needs them:
    // re-running lshBands over a cached 128-long array costs 16 FNV
    // folds per doc, nothing next to a cache 16× this size. (The
    // previous shape persisted the band explode WITH the signature
    // duplicated onto every band row — ~16 KB/doc; at the sf10 sweep
    // rung that ~10 GB cache's materialization alone took 112 s on
    // 8 GiB executors vs 43 s of pure signing, and the pair legs
    // re-read the wide rows.)
    val sigs = graft.util.Release.persist(
      minHashSigs(df, id, text, k, numHashes, blocking))
    minHashSweep(minHashBands(sigs, Nil, bands, numHashes / bands), None,
      sigs, threshold)
  }  // Release.scoped: pair result materialized, signature cache freed

  /** Pair-finding over an existing band table (from
    * [[minHashBandTable]]) — lets callers sign a corpus ONCE and run
    * several pair sweeps (full / subset / incremental) against slices
    * of the same persisted table. Semantically identical to
    * [[minHashDupPairs]] on the documents the table was built from. */
  def minHashDupPairsFromBands(buckets: DataFrame,
                               threshold: Double): DataFrame =
    minHashSweep(buckets, None, band0Sigs(buckets), threshold)

  /** The persistable LSH state of a corpus: one row per (document,
    * band) with the banded bucket hash AND the full signature —
    * everything incremental dedup needs to compare new documents
    * against the corpus without ever re-reading or re-hashing the
    * corpus text. Write this once per corpus snapshot (partitioned by
    * `b` if stored at rest, so band probes prune). `blk` is the
    * struct-wrapped blocking key ([[minHashDupPairs]], r15) — pass the
    * same `blocking` on both the corpus and each batch. NOTE (r15):
    * the schema gained the `blk` column; band tables persisted by
    * earlier revisions must be re-signed (pre-release format change,
    * the [[graft.streaming.StreamOps]] checkpoint rule). */
  def minHashBandTable(df: DataFrame, id: Column, text: Column,
                       k: Int = 3, numHashes: Int = 128,
                       bands: Int = 16,
                       blocking: Option[Column] = None): DataFrame =
    minHashBands(minHashSigs(df, id, text, k, numHashes, blocking),
      Seq("sig"), bands, numHashes / bands)

  /** (i, blk, sig): one signature row per document. */
  private def minHashSigs(df: DataFrame, id: Column, text: Column, k: Int,
                          numHashes: Int, blocking: Option[Column])
      : DataFrame =
    df.select(id.as("i"), BandJoin.blockKey(blocking),
      minHashSignature(text, k, numHashes).as("sig"))

  /** Signature rows → one row per band: (i, blk, keep*, b, h). */
  private def minHashBands(sigs: DataFrame, keep: Seq[String], bands: Int,
                           rows: Int): DataFrame = {
    val kept = (Seq("i", "blk") ++ keep).map(col)
    sigs.select(kept :+ explode(lshBands(col("sig"), bands, rows))
        .as("band"): _*)
      .select(kept ++ Seq(col("band._1").as("b"), col("band._2").as("h")): _*)
  }

  /** The signature of each document in band tables: its band-0 row. */
  private[graft] def band0Sigs(bands: DataFrame): DataFrame =
    bands.filter(col("b") === 0).select(col("i"), col("sig"))

  /** `cand` with the signature of its `id` column's document from
    * `sigs` (i, sig) as column `out`, null where `sigs` lacks it. */
  private[graft] def fetchSig(cand: DataFrame, id: String, sigs: DataFrame,
                              out: String): DataFrame =
    cand.join(sigs.select(col("i").as(id), col("sig").as(out)), Seq(id),
      "left")

  /** `est_jaccard` of two fetched signatures ([[fetchSig]]), failing
    * loud when either is missing. */
  private[graft] def estJaccard(s1: Column, s2: Column): Column =
    when(s1.isNull || s2.isNull, raise_error(lit(
      "minhash sweep: candidate id has no band-0 signature row — the " +
        "band table slice is missing band 0. Pass a slice that " +
        "includes b = 0 (signatures are fetched from it).")))
      .otherwise(sigAgreement(s1, s2)).as("est_jaccard")

  /** The one MinHash sweep: [[BandJoin]] candidates over (i, blk, b, h)
    * of `fresh` (and `corpus`), then signatures `sigs` (i, sig) fetched
    * once per surviving pair.
    *
    * Candidate pairs are DEDUPED before any signature comparison: a
    * near-dup pair collides in up to `bands` buckets, and duplicate-
    * heavy corpora make colliding occurrences explode quadratically
    * per bucket — comparing per occurrence re-ran the 128-slot
    * comparison up to 16× per pair AND carried two 1 KB arrays through
    * the join. The band join emits only (id1, id2), the distinct
    * shuffles two longs.
    *
    * LEFT joins + raise_error guard: if a caller passes a band table
    * sliced by band WITHOUT band 0 (a storage layout
    * [[minHashBandTable]] explicitly suggests partitioning by), an
    * inner join would silently drop every pair of the slice's
    * documents. A candidate whose signature is missing instead fails
    * loudly at execution time. */
  private def minHashSweep(fresh: DataFrame, corpus: Option[DataFrame],
                           sigs: DataFrame, threshold: Double)
      : DataFrame = {
    val nf = BandJoin.keys(fresh)
    val cand = BandJoin.candidates(nf, nf, corpus.map(BandJoin.keys))
      .distinct()
    fetchSig(fetchSig(cand, "id1", sigs, "__s1"), "id2", sigs, "__s2")
      .select(col("id1"), col("id2"), estJaccard(col("__s1"), col("__s2")))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental MinHash-LSH dedup: near-duplicate pairs of a NEW
    * batch against an existing corpus band table (from
    * [[minHashBandTable]]) plus within the batch itself. Because the
    * hash family is deterministic, `corpus pairs ∪ this` equals a
    * full-batch [[minHashDupPairs]] over `corpus ∪ new` exactly — the
    * q_incremental_dedup oracle pins that equivalence. Document ids
    * must be distinct across corpus and batch; pairs are normalized to
    * id1 < id2.
    *
    * Scale shape: the corpus side is only touched by a hash join on
    * (band, bucket) — colliding buckets stream, nothing re-shingles;
    * the new batch (typically ≪ corpus) is signed once and persisted.
    * This is the daily-snapshot dedup loop at 100 TB: signature state
    * grows by the batch, corpus text is never re-read. */
  def incrementalMinHashDupPairs(newDf: DataFrame, id: Column,
                                 text: Column, corpusBands: DataFrame,
                                 threshold: Double, k: Int = 3,
                                 numHashes: Int = 128,
                                 bands: Int = 16,
                                 blocking: Option[Column] = None)
      : DataFrame = graft.util.Release.scoped(newDf.sparkSession) {
    val nb = graft.util.Release.persist(minHashBandTable(newDf, id, text,
      k, numHashes, bands, blocking))
    incrementalMinHashDupPairsFromBands(nb, corpusBands, threshold)
  }

  /** [[incrementalMinHashDupPairs]] over pre-built band tables, for
    * callers holding both (e.g. one persisted corpus table sliced into
    * snapshots). */
  def incrementalMinHashDupPairsFromBands(newBands: DataFrame,
                                          corpusBands: DataFrame,
                                          threshold: Double)
      : DataFrame =
    minHashSweep(newBands, Some(corpusBands),
      band0Sigs(newBands).union(band0Sigs(corpusBands)), threshold)

  /** 64-bit SimHash over word hashes (unit weights). Near-dups have
    * small Hamming distance between simhashes. Runs as a native
    * codegen'd Catalyst expression
    * ([[org.apache.spark.sql.graft.SimHash64]]). */
  def simHash(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.simHash64Native(text)

  /** Hamming distance between two 64-bit simhashes (native algebra —
    * bit_count is codegen'd). */
  def simHashHamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** 128-bit SimHash as array<bigint> [w0, w1]: two independent
    * 64-bit SimHashes of the same token stream (seeds 0 and 1; element
    * 0 is bit-for-bit [[simHash]]'s output). One codegen'd pass
    * ([[org.apache.spark.sql.graft.SimHash128]]). This is the
    * fingerprint [[simHashDupPairs]] bands on — see there for why 64
    * bits is a corpus-size ceiling. */
  def simHash128(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.simHash128Native(text)

  /** Hamming distance between two 128-bit simhashes
    * (array<bigint> [w0, w1]; native bit_count algebra). */
  def simHashHamming128(a: Column, b: Column): Column =
    bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
      bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2)))

  /** SimHash near-duplicate pairs with 128-bit Hamming ≤ `maxDist`,
    * via 32-bit band buckets (pigeonhole: ≤ 3 flipped bits over 4
    * bands leave at least one band identical — exact recall for
    * maxDist ≤ 3, candidate prefilter beyond).
    *
    * Fingerprint width is the scale knob (r13 verdict): banding a
    * 64-bit simhash into the 4 bands the maxDist ≤ 3 pigeonhole
    * requires pins the band-key space at 2¹⁶ — bucket occupancy then
    * grows linearly with the corpus and candidate PAIRS quadratically
    * (~n²/2¹⁵), regardless of skew: fatal past ~10⁸ docs. The 128-bit
    * fingerprint's 4×32-bit bands give a 2³² key space (same
    * guarantee, quadratic term suppressed by 2¹⁶ — ~2 docs/bucket at
    * 10¹⁰ docs). `maxDist` is measured over all 128 bits: for the
    * same similarity level expect ≈ 2× the 64-bit Hamming (each bit
    * flips independently per hash), so thresholds tuned against
    * [[simHash]] roughly double. Identical normalized token streams
    * still hash identically (hamming 0) — exact-dup recall is 1
    * whatever the width.
    *
    * `blocking`: optional partition column (language, domain, shard —
    * the [[jaccardDupPairs]] pattern); when set, pairs never cross
    * blocks and the band key space multiplies by the block
    * cardinality, removing even the 2³² ceiling. NULL blocks match
    * each other (struct-wrapped null-safe key). */
  def simHashDupPairs(df: DataFrame, id: Column, text: Column,
                      maxDist: Int,
                      blocking: Option[Column] = None): DataFrame =
      graft.util.Release.scoped(df.sparkSession) {
    // persist: the self-join scans this twice; without it both sides
    // re-tokenize + re-simHash every document
    val banded = graft.util.Release.persist(
      simHashBandTable(df, id, text, blocking))
    simHashDupPairsFromBands(banded, maxDist)
  }  // Release.scoped: pair result materialized, simhash cache freed

  /** [[simHashDupPairs]] over a pre-built [[simHashBandTable]] (e.g.
    * a persisted corpus snapshot, or one signed table sliced into
    * old/new/full sweeps). */
  def simHashDupPairsFromBands(bands: DataFrame, maxDist: Int)
      : DataFrame =
    simHashSweep(bands, None, maxDist)

  /** The one SimHash sweep: [[BandJoin]] candidates, Hamming-verified
    * on the fingerprints riding the band rows. The filter runs before
    * the pair dedup, so the distinct shuffles only surviving (id1, id2,
    * hamming) rows instead of every band-collision candidate. */
  private def simHashSweep(fresh: DataFrame, corpus: Option[DataFrame],
                           maxDist: Int): DataFrame =
    BandJoin.candidates(fresh, fresh, corpus,
        bandHamming128("l", "r").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()

  /** 128-bit Hamming distance between two aliased
    * [[simHashBandTable]] sides. */
  private def bandHamming128(l: String, r: String): Column =
    bit_count(col(s"$l.w0").bitwiseXOR(col(s"$r.w0"))) +
      bit_count(col(s"$l.w1").bitwiseXOR(col(s"$r.w1")))

  /** The persistable SimHash state of a corpus: one row per
    * (document, band) with the 32-bit band key AND the full 128-bit
    * fingerprint as flat columns (i, blk, w0, w1, b, h) — everything
    * incremental dedup needs to compare new documents against the
    * corpus without ever re-reading or re-hashing the corpus text
    * (the [[minHashBandTable]] pattern). Write once per corpus
    * snapshot, partitioned by `b` at rest so band probes prune; 4
    * narrow rows per document. `blk` is the struct-wrapped blocking
    * key ([[simHashDupPairs]]) — pass the same `blocking` on both the
    * corpus and each batch. */
  def simHashBandTable(df: DataFrame, id: Column, text: Column,
                       blocking: Option[Column] = None): DataFrame = {
    val withSh = graft.util.Spread.byKey(
        df.select(id.as("i"), text.as("__t"), BandJoin.blockKey(blocking)),
        col("i"))
      .select(col("i"), simHash128(col("__t")).as("sh"), col("blk"))
    simHashBands(withSh.select(col("i"), col("blk"),
      element_at(col("sh"), 1).as("w0"), element_at(col("sh"), 2).as("w1")))
  }

  /** Fingerprint rows (i, blk, w0, w1) → the band table: one row per
    * 32-bit half of the 128-bit SimHash, band b keying on bits
    * 32·b … 32·b + 31 — (i, blk, w0, w1, b, h). */
  private[graft] def simHashBands(fps: DataFrame): DataFrame = {
    val (w0, w1) = (col("w0"), col("w1"))
    val halves = Seq(w0.bitwiseAND(lit(0xffffffffL)),
      shiftrightunsigned(w0, 32), w1.bitwiseAND(lit(0xffffffffL)),
      shiftrightunsigned(w1, 32))
    fps.select(col("i"), col("blk"), w0, w1,
        explode(array(halves.zipWithIndex.map { case (h, b) =>
          struct(lit(b).as("b"), h.as("h")) }: _*)).as("band"))
      .select(col("i"), col("blk"), col("w0"), col("w1"),
        col("band.b").as("b"), col("band.h").as("h"))
  }

  /** Incremental SimHash dedup: near-duplicate pairs (Hamming ≤
    * `maxDist` over the 128-bit fingerprint) of a NEW batch against
    * an existing corpus band table (from [[simHashBandTable]]) plus
    * within the batch itself — the daily-snapshot crawl-dedup loop.
    * The hash family is
    * deterministic, so `corpus pairs ∪ this` equals a full-batch
    * [[simHashDupPairs]] over `corpus ∪ new` exactly (TextSimSpec and
    * the q_incremental_simhash oracle pin it). Document ids must be
    * distinct across corpus and batch; pairs normalize to id1 < id2.
    *
    * Scale shape: the corpus side is only touched by a hash join on
    * (band, key, block) — colliding buckets stream, nothing
    * re-tokenizes; the new batch (typically ≪ corpus) is fingerprinted
    * once and persisted; fingerprints ride the band rows so no
    * signature fetch-back join exists. State grows by 4 rows per new
    * document; corpus text is never re-read. */
  def incrementalSimHashDupPairs(newDf: DataFrame, id: Column,
                                 text: Column, corpusBands: DataFrame,
                                 maxDist: Int,
                                 blocking: Option[Column] = None)
      : DataFrame = graft.util.Release.scoped(newDf.sparkSession) {
    val nb = graft.util.Release.persist(
      simHashBandTable(newDf, id, text, blocking))
    incrementalSimHashDupPairsFromBands(nb, corpusBands, maxDist)
  }

  /** [[incrementalSimHashDupPairs]] over pre-built band tables, for
    * callers holding both. */
  def incrementalSimHashDupPairsFromBands(newBands: DataFrame,
                                          corpusBands: DataFrame,
                                          maxDist: Int): DataFrame =
    simHashSweep(newBands, Some(corpusBands), maxDist)

  /** Per-document TF-IDF scores for every term: tf = term count /
    * document token count; idf = ln((1+N)/(1+df)) + 1 (the smoothed
    * variant sklearn's TfidfVectorizer defaults to — never divides by
    * zero, floor 1 keeps corpus-wide terms ranked).
    *
    * Shapes for scale: document length and document frequency ride
    * window aggregates over the (doc, term, cnt) frame — narrow rows,
    * never the raw text — so there is NO cached intermediate and no
    * join-back; the doc-count scalar comes from a separate lazy branch
    * (one extra tokenization pass, which at 100 TB is cheaper than
    * persisting a corpus-sized tf table to memory+disk and leaking it
    * for the session's lifetime). Output: (doc, term, cnt, tfidf). */
  def tfIdf(df: DataFrame, id: Column, text: Column): DataFrame = {
    val words = df.select(id.as("doc"),
        explode(split(lower(trim(text)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    // docs with >= 1 nonempty term (what a tf table's distinct doc
    // count would be) — tiny scalar, broadcast cross join
    val nDocs = words.agg(countDistinct(col("doc")).as("n_docs"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"))
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
    // term-window FIRST, doc-window LAST: the tf table leaves here
    // hash(doc)-partitioned, so tfIdfTopK's per-doc rank window (and
    // any caller grouping by doc) reuses the partitioning instead of
    // paying a fourth full shuffle of the tf table.
    words.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("dlen", sum(col("cnt")).over(wDoc))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("cnt").cast("double") / col("dlen") *
          (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
      .select(col("doc"), col("term"), col("cnt"), col("tfidf"))
  }

  /** Top-`k` TF-IDF terms per document; rank on the ROUNDED score (6
    * dp) then term so the order is reproducible across engines whose
    * `ln` differs in the last ulp. */
  def tfIdfTopK(df: DataFrame, id: Column, text: Column, k: Int)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
      .orderBy(round(col("tfidf"), 6).desc, col("term"))
    tfIdf(df, id, text)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}
