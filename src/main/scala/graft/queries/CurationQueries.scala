package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.FilterRules

/** Driver-contract queries for the named curation rule sets (Gopher /
  * C4). The synthetic documents carry no punctuation, newlines or
  * symbols, so each query augments the text deterministically from
  * doc_id arithmetic — built with the identical string expression in
  * the oracle SQL, so every rule path (bullets, ellipses, symbol runs,
  * stopword-rich tails, javascript lines, lorem ipsum, braces, blocked
  * words) is exercised and cross-engine checked. */
object CurationQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gopher_rules" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("t", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("\n- bullet one\n- bullet two\n* third bullet"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("\nthis line trails off...\nand another…"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" ### ## # …")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit(" the data and results have merit to be good with " +
              "that of")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(6)) === 0,
            lit(" 123 456 789 012 345 678 901 234"))
            .otherwise(lit(""))))
      aug.withColumn("g", FilterRules.gopherRules(col("t")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("g.pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(!col("g.r_word_count"), 1L).otherwise(0L))
            .as("f_word_count"),
          sum(when(!col("g.r_mean_word_len"), 1L).otherwise(0L))
            .as("f_mwl"),
          sum(when(!col("g.r_symbol_ratio"), 1L).otherwise(0L))
            .as("f_symbol"),
          sum(when(!col("g.r_bullet_lines"), 1L).otherwise(0L))
            .as("f_bullet"),
          sum(when(!col("g.r_ellipsis_lines"), 1L).otherwise(0L))
            .as("f_ellipsis"),
          sum(when(!col("g.r_alpha_words"), 1L).otherwise(0L))
            .as("f_alpha"),
          sum(when(!col("g.r_stopwords"), 1L).otherwise(0L))
            .as("f_stop"),
          round(avg(col("g.mean_word_len")), 6).as("avg_mwl"),
          round(avg(col("g.symbol_ratio")), 6).as("avg_symbol_ratio"),
          round(avg(col("g.alpha_frac")), 6).as("avg_alpha_frac"),
          round(avg(col("g.n_stopwords")), 6).as("avg_stopwords"))
        .orderBy("source")
    }),
    "q_c4_rules" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("t", concat(
          lit("The first line of the page ends with a period."),
          lit("\n"), col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("."))
            .otherwise(lit("")),
          lit("\nshort line"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nthis line mentions javascript explicitly."))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("\nAlpha beta. Gamma delta. Epsilon zeta. Eta " +
              "theta. Iota kappa.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit("\nLorem ipsum dolor sit amet.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            lit("\nvar config = { broken"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            lit(" blockedword tail")).otherwise(lit(""))))
      aug
        .withColumn("c",
          FilterRules.c4Rules(col("t"), badWords = Seq("blockedword")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("c.keep"), 1L).otherwise(0L)).as("n_keep"),
          sum(col("c.n_kept_lines").cast("long")).as("kept_lines"),
          sum(col("c.n_sentences").cast("long")).as("sentences"),
          sum(when(col("c.has_lorem"), 1L).otherwise(0L))
            .as("n_lorem"),
          sum(when(col("c.has_brace"), 1L).otherwise(0L))
            .as("n_brace"),
          sum(when(col("c.has_bad_word"), 1L).otherwise(0L))
            .as("n_bad"),
          sum(coalesce(length(col("c.cleaned")), lit(0))
            .cast("long")).as("cleaned_chars"))
        .orderBy("source")
    }),
    "q_text_chunks" -> ((s, dir) => {
      graft.text.CorpusOps.slidingChunks(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          col("doc_id"), col("text"),
          chunkTokens = 32, stride = 24)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          col("n_chunk_tokens"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),
    "q_sentence_dedup" -> ((s, dir) => {
      // documents carry no punctuation, so build 3-sentence pages with
      // planted cross-page duplicates (preamble repeats every 7 pages,
      // closing every 11) — the oracle constructs identical pages.
      val pages = t(s, dir, "documents")
        .select(col("doc_id").as("page_id"),
          concat(lit("Common preamble sentence variant "),
            pmod(col("doc_id"), lit(7)), lit(". "),
            col("text"),
            lit(". Shared closing sentence for group "),
            pmod(col("doc_id"), lit(11)), lit("!")).as("ptext"))
      graft.text.CorpusOps.sentenceDedup(pages, col("page_id"),
          col("ptext"))
        .select(col("page").as("page_id"),
          col("n_sents").cast("long").as("n_sents"),
          col("n_kept").cast("long").as("n_kept"),
          md5(coalesce(col("rebuilt"), lit("<empty>")))
            .as("rebuilt_md5"))
        .orderBy("page_id")
    }),
    "q_hash_split" -> ((s, dir) => {
      // group-aware split keyed by a synthetic host (97 groups): every
      // doc of a host must land in one split — n_leaky pins that at 0
      import graft.sample.SampleOps
      val docs = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), pmod(col("doc_id"),
          lit(97))))
      val sp = SampleOps.hashSplit(docs, col("host"),
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), seed = 7)
      val leak = sp.groupBy(col("host"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)),
          lit(0L)).as("n_leaky"))
      sp.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .crossJoin(leak)
        .orderBy("split")
    }),
    "q_dsir" -> ((s, dir) => {
      // DSIR selection toward long documents (n_chars > 350 is the
      // SQL-checkable "target domain"); the oracle replays the hashed
      // uni+bigram counts, both smoothed multinomials, every log
      // importance weight, the hash-derived Gumbel noise, and the
      // final top-k — the whole pipeline, end to end.
      import graft.text.DsirOps
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("n_chars") > 350)
      DsirOps.resample(docs, target, col("doc_id"), col("text"),
          k = 60, dim = 64, hexChars = 2)
        .select(col("id").as("doc_id"),
          round(col("log_w"), 6).as("log_w"),
          round(col("key"), 6).as("sel_key"))
        .orderBy("doc_id")
    }),
    "q_mojibake" -> ((s, dir) => {
      // append a non-ASCII suffix (accents, curly quotes, em dash,
      // U+2116, a 4-byte emoji), corrupt it through the exact
      // UTF-8-read-as-CP1252 map, repair, and md5-compare against the
      // oracle's uncorrupted construction. detected/roundtrip_ok are
      // provable invariants of the construction (every suffix contains
      // a lead+continuation pair; the corruption map is invertible on
      // its image), so the oracle pins them as literal true.
      import graft.text.EncodingOps
      val docs = t(s, dir, "documents")
        .withColumn("orig", concat(col("text"),
          lit(" Grüße café № "), pmod(col("doc_id"), lit(7)),
          lit(" — “déjà vu” über 😀")))
      docs
        .withColumn("bad", EncodingOps.corruptAsCp1252(col("orig")))
        .withColumn("fixed", EncodingOps.fixMojibake(col("bad")))
        .select(col("doc_id"),
          (EncodingOps.mojibakeScore(col("bad")) > 0).as("detected"),
          (EncodingOps.mojibakeScore(col("orig")) === 0)
            .as("clean_quiet"),
          (col("fixed") === col("orig")).as("roundtrip_ok"),
          md5(col("fixed")).as("fixed_md5"))
        .orderBy("doc_id")
    }),
    "q_incremental_dedup" -> ((s, dir) => {
      // daily-snapshot dedup loop: even docs are the existing corpus
      // (band table persisted), odd docs arrive as the new batch. The
      // deterministic hash family makes incremental ≡ full-batch an
      // exact equivalence — pinned here as inc_equals_full — and
      // identical-text cross pairs (SQL-computable) must all be found
      // (identical signatures collide in every band).
      import graft.text.TextOps
      val docs = t(s, dir, "documents")
      // sign the corpus ONCE; every sweep below (old-only, full,
      // incremental new-vs-old) is a slice of the same persisted band
      // table — the single-signing economics the band-table API exists
      // for (signing is the dominant cost: 128 hashes per shingle)
      val bandAll = TextOps.minHashBandTable(docs, col("doc_id"),
          col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandOld = bandAll.filter(pmod(col("i"), lit(2)) === 0)
      val bandNew = bandAll.filter(pmod(col("i"), lit(2)) === 1)
      val incNew = TextOps.incrementalMinHashDupPairsFromBands(
        bandNew, bandOld, 0.6)
      val oldPairs = TextOps.minHashDupPairsFromBands(bandOld, 0.6)
      val full = TextOps.minHashDupPairsFromBands(bandAll, 0.6)
      val incAll = oldPairs.select("id1", "id2")
        .union(incNew.select("id1", "id2")).distinct()
      val eq = full.select(col("id1"), col("id2"), lit(1).as("f"))
        .join(incAll.withColumn("g", lit(1)), Seq("id1", "id2"),
          "full")
        .agg(coalesce(bool_and(col("f").isNotNull &&
          col("g").isNotNull), lit(true)).as("inc_equals_full"))
      val norm = docs.select(col("doc_id").as("d"),
        concat_ws(" ", split(lower(trim(col("text"))), "\\s+"))
          .as("t"))
      val ident = norm.as("l").join(norm.as("r"),
          col("l.t") === col("r.t") && col("l.d") < col("r.d") &&
            pmod(col("l.d"), lit(2)) =!= pmod(col("r.d"), lit(2)))
        .select(col("l.d").as("id1"), col("r.d").as("id2"))
      ident.join(incNew.select(col("id1"), col("id2"),
            lit(1).as("hit")), Seq("id1", "id2"), "left")
        .agg(count(lit(1)).as("n_ident_cross"),
          coalesce(bool_and(col("hit").isNotNull), lit(true))
            .as("ident_found"))
        .crossJoin(eq)
    }),
    "q_curation_report" -> ((s, dir) => {
      // the Dolma/RefinedWeb-style funnel as ONE plan: language gate →
      // Gopher rules (relaxed word bound for the synthetic docs) →
      // exact dedup → per-source survivor counts at each stage. All
      // row-local gates collapse into a single scan pass; dedup is the
      // only shuffle. Stage counts are monotone by construction.
      import graft.text.{FilterRules, TextOps}
      val docs = t(s, dir, "documents")
        .withColumn("is_en", TextOps.langId(col("text")) === "en")
        .withColumn("g", FilterRules.gopherRules(col("text"),
          minWords = 30, minStopwords = 0, minMeanWordLen = 2.0))
      val kept = docs.filter(col("is_en") && col("g.pass"))
      val deduped = TextOps.exactDedup(kept, col("text"),
        col("doc_id"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("is_en") && col("g.pass"), 1L).otherwise(0L))
            .as("n_rules"))
        .join(deduped.groupBy(col("source"))
          .agg(count(lit(1)).as("n_final"),
            sum(col("g.n_words")).as("final_words")),
          Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("n_lang"),
          col("n_rules"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("final_words"), lit(0L)).as("final_words"))
        .orderBy("source")
    }),
    "q_ppl_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail bucketing per source with the exact
      // percentile twin (the approx_percentile scale path is
      // spec-bound). Cuts at 0.26/0.74 are STRICTLY INTERIOR for the
      // per-source group sizes (0.25/0.75 with n=25 land exactly on
      // data values, where ppl <= cut compares a value to itself and
      // last-ulp noise can flip membership between engines/threads).
      import graft.text.LmOps
      val docs = t(s, dir, "documents")
      // Release.scoped: perplexityBuckets persists the scored frame
      // internally; scoping here frees it once this small per-source
      // aggregate is materialized (session hygiene).
      graft.util.Release.scoped(s) {
        LmOps.perplexityBuckets(docs, col("text"), docs, col("doc_id"),
            col("text"), col("source"), lowCut = 0.26, highCut = 0.74,
            exact = true)
          .groupBy(col("grp").as("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("ppl")), 4).as("avg_ppl"))
          .orderBy("source", "bucket")
      }
    }),
    "q_jl_project" -> ((s, dir) => {
      // 64 → 16 dims; the oracle recomputes every md5-derived Gaussian
      // matrix entry and every projected coordinate in SQL. outDim 16
      // keeps the 1/√k scale exact (0.25) in both engines.
      import graft.sim.ProjectOps
      t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .withColumn("p", ProjectOps.jlProject(col("embedding"),
          outDim = 16, inDim = 64, salt = 1))
        .select(col("vec_id"),
          round(element_at(col("p"), 1), 6).as("p0"),
          round(element_at(col("p"), 8), 6).as("p7"),
          round(element_at(col("p"), 16), 6).as("p15"))
        .orderBy("vec_id")
    }),
    "q_jl_ann" -> ((s, dir) => {
      // JL-shortlist ANN in its DOCUMENTED regime (separation >>
      // 1/sqrt(jlDim)) as an oracle row: corpus = basis vectors
      // e_{doc_id} (doc_id < 64), queries = 0.96*e_{j%64} +
      // 0.28*e_{(7j+1)%64} (unit norm: 96^2 + 28^2 = 100^2). The
      // planted twin separation (cos 0.96 vs 0.28 background) makes
      // the coarse shortlist deterministic; the oracle states the
      // closed-form answer — every query's top-1 is its twin at cos
      // 0.96 — so a recall miss anywhere in project/shortlist/re-rank
      // fails the row.
      import graft.sim.ProjectOps
      val docs = t(s, dir, "documents")
      import org.apache.spark.sql.Column
      def basis(d: Column, w: Column, d2: Column, w2: Column) =
        transform(sequence(lit(0), lit(63)), i =>
          when(i === d, w).otherwise(lit(0.0)) +
            when(i === d2, w2).otherwise(lit(0.0)))
      val corpus = docs.filter(col("doc_id") < 64)
        .select(col("doc_id").as("id"),
          basis(pmod(col("doc_id"), lit(64)).cast("int"), lit(1.0),
            lit(-1), lit(0.0)).as("vec"))
      val queries = docs.filter(col("doc_id") >= 100 &&
          col("doc_id") < 140)
        .select(col("doc_id").as("id"),
          basis(pmod(col("doc_id"), lit(64)).cast("int"), lit(0.96),
            pmod(col("doc_id") * 7 + 1, lit(64)).cast("int"), lit(0.28))
            .as("vec"))
      ProjectOps.jlCosineTopK(queries, corpus, k = 1, inDim = 64,
          jlDim = 16, candFactor = 4, salt = 2)
        .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
          col("rk"))
        .orderBy("qid")
    }),
    "q_nfc_normalize" -> ((s, dir) => {
      // decomposed combining sequences (e+U+0301, A+U+030A, o+U+0308)
      // must compose to the precomposed forms; the oracle runs
      // DuckDB's ICU nfc_normalize over the identical construction,
      // pinning the JDK-Normalizer-equals-ICU equivalence the
      // expression claims. The suffix is built from escapes so no
      // invisible decomposition hides in this source file.
      import org.apache.spark.sql.graft.NativeFunctions
      val suffix = " cafe\u0301 A\u030angstro\u0308m vol "
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .withColumn("raw", concat(col("text"), lit(suffix),
          pmod(col("doc_id"), lit(9))))
        .withColumn("nfc", NativeFunctions.nfcNormalizeNative(
          col("raw")))
        .select(col("doc_id"),
          length(col("raw")).as("len_raw"),
          length(col("nfc")).as("len_nfc"),
          md5(col("nfc")).as("nfc_md5"))
        .orderBy("doc_id")
    }),
    "q_tokenizer_fertility" -> ((s, dir) => {
      // tokenizer-efficiency datasheet: bytes per token for the
      // whitespace and BPE-ish tokenizations, per source
      import graft.text.TextOps
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          sum(octet_length(col("text"))).as("bytes"),
          sum(TextOps.tokenCount(col("text"))).as("ws_tokens"),
          sum(TextOps.tokenCountBpe(col("text"))).as("bpe_tokens"),
          round(sum(octet_length(col("text"))).cast("double") /
            sum(TextOps.tokenCount(col("text"))), 4)
            .as("bytes_per_ws_token"),
          round(sum(octet_length(col("text"))).cast("double") /
            sum(TextOps.tokenCountBpe(col("text"))), 4)
            .as("bytes_per_bpe_token"))
        .orderBy("source")
    }),
    "q_zipf_yule" -> ((s, dir) => {
      // lexical-diversity datasheet: Yule's K, Simpson's D, and the
      // Zipf rank–frequency log-log fit per source
      import graft.text.CorpusOps
      CorpusOps.lexicalProfile(t(s, dir, "documents"), col("source"),
          col("text"))
        .select(col("key").as("source"), col("n_types"), col("n_tokens"),
          round(col("yule_k"), 6).as("yule_k"),
          round(col("simpson_d"), 8).as("simpson_d"),
          round(col("zipf_slope"), 6).as("zipf_slope"),
          round(col("zipf_r2"), 6).as("zipf_r2"))
        .orderBy("source")
    }),
    "q_vocab_stats" -> ((s, dir) => {
      // vocabulary shape per source: type count, type-token ratio,
      // hapax fraction — the Zipf-tail signals corpus datasheets report
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(lower(trim(col("text"))), "\\s+"),
            w => w =!= "")).as("t"))
      toks.groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("n")).as("n_tokens"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
          round(count(lit(1)).cast("double") / sum(col("n")), 6)
            .as("ttr"),
          round(sum(when(col("n") === 1, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("hapax_frac"))
        .orderBy("source")
    }),
    "q_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL ingest contract: write the documents as JSONL, plant a
      // side file with 3 malformed lines + 1 valid extra row, read
      // back with the strict schema — corrupt lines must be ROUTED
      // (not dropped), valid rows byte-exact. All expected counts are
      // documents-table arithmetic.
      import graft.sources.Jsonl
      import org.apache.spark.sql.types._
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_jsonl$tag"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      Jsonl.writeJsonl(docs, root)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "zz_extra.json"),
        ("this line is not json\n" +
          "{\"doc_id\": 12, \"source\"   broken\n" +
          "[1, 2, oops\n" +
          "{\"doc_id\": -1, \"source\": \"extra\", " +
          "\"text\": \"planted extra row\"}\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val back = Jsonl.readJsonl(s, root, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("source", StringType),
        StructField("text", StringType))))
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(Jsonl.corruptCol).isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col(Jsonl.corruptCol).isNull, 1L).otherwise(0L))
          .as("n_valid"),
        sum(when(col(Jsonl.corruptCol).isNull, col("doc_id")))
          .as("sum_doc_id"),
        countDistinct(when(col(Jsonl.corruptCol).isNull,
          col("source"))).as("n_sources"),
        sum(when(col(Jsonl.corruptCol).isNull, length(col("text"))))
          .as("text_chars"))
    }),
    "q_snapshot_diff" -> ((s, dir) => {
      // corpus snapshot diff: v2 is constructed from v1 by dropping
      // %13 rows (removed), appending ' v2' to %7 rows (changed —
      // coalesce makes the mutation real even for a null-text
      // fixture row, keeping the %-rule exact), whitespace-padding
      // %11 rows (format-only — the normalized fingerprint must
      // classify these UNCHANGED; whitespace edits are locale- and
      // unicode-proof, unlike case round-trips: upper('straße')
      // lowercases to 'strasse'), and appending shifted-id %17 rows
      // (added). The %-rules alone determine every expected status,
      // so the oracle replays the construction without needing the
      // fingerprint: any join or fingerprint bug flips a class count.
      import graft.text.CorpusOps
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = old.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
            .when(col("doc_id") % 11 === 0 && col("text").isNotNull,
              concat(lit("  "), col("text"), lit(" \t ")))
            .otherwise(col("text")))
      val added = old.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id")).as("text"))
      CorpusOps.snapshotDiff(old, mutated.unionByName(added),
          "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
        .orderBy("status")
    }),
    "q_orc_roundtrip" -> ((s, dir) => {
      // ORC ingest/egress contract (Spark's other first-class columnar
      // format — warehouse interchange at 100 TB): write the documents
      // as zlib ORC, read back through a pushdown-eligible filter, and
      // digest every surviving row with a 60-bit md5 prefix so any
      // single flipped byte of any column fails the oracle. The digest
      // is mod 1e9+7 before summing so 600k-row sums stay in BIGINT
      // range in both engines.
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_orc$tag"
      t(s, dir, "documents").select("doc_id", "source", "text")
        .write.mode("overwrite").option("compression", "zlib").orc(root)
      val back = s.read.orc(root).filter(col("doc_id") % 2 === 0)
      val rowMd5 = md5(concat_ws("\u0001",
        col("doc_id").cast("string"), col("source"), col("text")))
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).as("text_chars"),
        sum(pmod(conv(substring(rowMd5, 1, 15), 16, 10).cast("long"),
          lit(1000000007L))).as("md5_digest"))
    }),
    // sf1-feasible value-exact twin (BASELINE.md "sf1 CORRECTNESS"):
    // the original's oracle replays every KN count table over the full
    // corpus's bigram instances — past DuckDB's isolated-runner budget
    // at sf1 (50k docs). Training AND scoring restricted to the same
    // deterministic 1/10 doc sample keeps the pipeline self-consistent
    // (a genuine smaller corpus) at replayable size.
    "q_sx_lm_kn" -> ((s, dir) => {
      import graft.text.LmOps
      // sf-adaptive sample: 1/10 at gate scale, 1/100 past 10k docs —
      // token-salted sf1 copies inflate the bigram vocabulary ~10×,
      // pushing the oracle's three count-table joins past DuckDB's
      // budget at 1/10. The SQL twin applies the IDENTICAL rule.
      val all = t(s, dir, "documents")
      val mod = if (all.count() > 10000) 100L else 10L
      val docs = all.filter(col("doc_id") % mod === 0)
      graft.util.Release.scoped(s) {
        LmOps.ngramLmScoreKN(docs, col("text"), docs, col("doc_id"),
            col("text"))
          .select(col("doc_id"), col("n_ngrams"),
            round(col("cross_entropy"), 4).as("cross_entropy"),
            round(col("ppl"), 2).as("ppl"))
          .orderBy("doc_id")
      }
    }),
    "q_lm_kn" -> ((s, dir) => {
      // interpolated Kneser-Ney bigram scoring, self-trained — the
      // oracle replays every count table (prefix totals, distinct
      // successors, continuation counts, distinct-bigram total) and
      // the interpolation formula at string level.
      import graft.text.LmOps
      val docs = t(s, dir, "documents")
      // Release.scoped: ngramLmScoreKN persists its bigram count table;
      // scoping frees it once the per-doc scores are materialized.
      graft.util.Release.scoped(s) {
        LmOps.ngramLmScoreKN(docs, col("text"), docs, col("doc_id"),
            col("text"))
          .select(col("doc_id"), col("n_ngrams"),
            round(col("cross_entropy"), 4).as("cross_entropy"),
            round(col("ppl"), 2).as("ppl"))
          .orderBy("doc_id")
      }
    }),
    "q_winnow" -> ((s, dir) => {
      // MOSS winnowing: plant an identical 12-word passage on every
      // 25th doc; winnowed fingerprints must pair those docs (the
      // w+k-1 guarantee), and the oracle replays hash values, window
      // minima, rightmost tie-breaks and pair counts exactly.
      import graft.text.WinnowOps
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("t", concat(col("text"),
          when(pmod(col("doc_id"), lit(25)) === 0,
            lit(" shared plagiarized passage appears verbatim in " +
              "several documents here today")).otherwise(lit(""))))
      val fps = WinnowOps.fingerprints(docs, col("doc_id"), col("t"),
        k = 4, w = 4)
      val pairs = WinnowOps.sharedFingerprintPairs(fps, minShared = 2)
      pairs.select(col("id1"), col("id2"), col("n_shared"))
        .orderBy("id1", "id2")
    }),
    "q_cdx" -> ((s, dir) => {
      // CDXJ index parse: build closed-form index lines (SURT key +
      // timestamp + JSON block), parse, and aggregate the parsed
      // fields + the urlkey == surtKey(url) contract; the oracle
      // recomputes everything from the same doc_id arithmetic.
      import graft.sources.CdxOps
      val lines = t(s, dir, "documents")
        .select(col("doc_id").as("i"))
        .withColumn("url", concat(lit("https://www.h"),
          pmod(col("i"), lit(50)), lit(".example.com/p/"), col("i")))
        .withColumn("line", concat(
          CdxOps.surtKey(col("url")), lit(" "),
          lit("2026011400"), lpad(pmod(col("i"), lit(10000))
            .cast("string"), 4, "0"),
          lit(" {\"url\": \""), col("url"),
          lit("\", \"mime\": \"text/html\", \"status\": \""),
          (lit(200) + pmod(col("i"), lit(3)) * 102).cast("string"),
          lit("\", \"digest\": \"D"), col("i"),
          lit("\", \"length\": \""),
          (lit(500) + pmod(col("i"), lit(100))).cast("string"),
          lit("\", \"offset\": \""), (col("i") * 1000).cast("string"),
          lit("\", \"filename\": \"crawl-"), pmod(col("i"), lit(10)),
          lit(".warc.gz\"}")))
      lines.withColumn("r", CdxOps.parseCdxj(col("line")))
        .groupBy(col("r.status").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("r.length")).as("sum_length"),
          sum(col("r.offset")).as("sum_offset"),
          countDistinct(col("r.filename")).as("n_files"),
          bool_and(col("r.urlkey") ===
            CdxOps.surtKey(col("r.url"))).as("surt_ok"),
          bool_and(length(col("r.timestamp")) === 14).as("ts_ok"),
          bool_and(col("r.mime") === "text/html").as("mime_ok"),
          bool_and(col("r.digest") === concat(lit("D"), col("i")))
            .as("digest_ok"))
        .orderBy("status")
    }),
    "q_crawl_plan" -> ((s, dir) => {
      // crawl-frontier planning as ONE plan federating three real
      // parsers: sitemap urlsets propose candidates, RFC 9309 robots
      // matching gates them, and the CDX index (SURT-key join) marks
      // already-captured urls — output is the per-host fetch plan.
      // The oracle recomputes everything from doc_id arithmetic
      // (candidates = (host, page) pairs; allowed = page not in
      // {3,7}; captured = some doc j with j%5=0 proposes the same
      // (host, page)).
      import graft.sources.{CdxOps, RobotsOps, SitemapOps}
      val docs = t(s, dir, "documents").select(col("doc_id").as("i"))
      def urlOf(i: org.apache.spark.sql.Column) =
        concat(lit("https://h"),
        pmod(i, lit(40)), lit(".example.com/page"), pmod(i, lit(9)))
      val cand = docs
        .withColumn("xml", concat(lit("<urlset><url><loc>"),
          urlOf(col("i")), lit("</loc></url></urlset>")))
        .select(col("i"),
          explode(SitemapOps.sitemapUrls(col("xml"))).as("u"))
        .select(col("i"), col("u.loc").as("url"))
      val robots =
        lit("User-agent: *\nDisallow: /page3\nDisallow: /page7\n")
      val gated = cand.withColumn("allowed",
        RobotsOps.robotsAllowed(robots,
          regexp_replace(col("url"), "^https://[^/]+", ""),
          "graftbot"))
      val cdx = docs.filter(pmod(col("i"), lit(5)) === 0)
        .withColumn("line", concat(CdxOps.surtKey(urlOf(col("i"))),
          lit(" 20260101000000 {\"url\": \""), urlOf(col("i")),
          lit("\", \"mime\": \"text/html\", \"status\": \"200\", " +
            "\"digest\": \"X\", \"length\": \"1\", \"offset\": " +
            "\"0\", \"filename\": \"c.warc.gz\"}")))
        .select(CdxOps.parseCdxj(col("line"))
          .getField("urlkey").as("k"))
        .distinct()
      gated.withColumn("k", CdxOps.surtKey(col("url")))
        .join(cdx.withColumn("cap", lit(1)), Seq("k"), "left")
        .groupBy(pmod(col("i"), lit(40)).as("host"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("cap").isNotNull, 1L).otherwise(0L))
            .as("n_captured"),
          sum(when(col("allowed") && col("cap").isNull, 1L)
            .otherwise(0L)).as("n_to_fetch"))
        .orderBy("host")
    }),
    "q_bradley_terry" -> ((s, dir) => {
      // Bradley-Terry MM over synthetic pairwise preferences (16
      // players, winner biased 60/40 by id arithmetic); the oracle
      // unrolls all 15 MM rounds with per-round mean normalization.
      import graft.ops.PreferenceOps
      val m = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(16)).as("a0"),
          pmod(col("doc_id") * 7 + 3, lit(16)).as("b0"),
          pmod(col("doc_id"), lit(10)).as("r"))
        .filter(col("a0") =!= col("b0"))
        .select(
          when(col("r") < 6, col("a0")).otherwise(col("b0")).as("w"),
          when(col("r") < 6, col("b0")).otherwise(col("a0")).as("l"))
      PreferenceOps.bradleyTerry(m, col("w"), col("l"),
          iterations = 15)
        .select(col("id"), round(col("strength"), 6).as("strength"),
          col("wins"), col("games"))
        .orderBy("id")
    }),
    "q_card_redact" -> ((s, dir) => {
      // Luhn-validated card redaction: build a VALID 16-digit card per
      // doc (check digit from the same Luhn arithmetic in both
      // engines), dash-formatted, plus an INVALID twin (check+1) that
      // must NOT redact. The oracle reconstructs the redacted text.
      import graft.text.RedactOps
      val base = concat(lit("4"), lpad(pmod(col("doc_id") * 7919,
        lit(100000000000000L)).cast("string"), 14, "0"))
      // base digit i (1-based from left, len 15) doubles iff i is odd
      // (position 17-i from the right of the 16-digit number is even)
      val sumb = aggregate(
        transform(sequence(lit(1), lit(15)), i => {
          val d = ascii(base.substr(i, lit(1))) - 48
          when(i % 2 === 1,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        }), lit(0), (acc, x) => acc + x)
      val chk = pmod(lit(10) - pmod(sumb, lit(10)), lit(10))
      val valid = concat(base, chk.cast("string"))
      val fmt = concat_ws("-", substring(valid, 1, 4),
        substring(valid, 5, 4), substring(valid, 9, 4),
        substring(valid, 13, 4))
      val invalid = concat(base,
        pmod(chk + 1, lit(10)).cast("string"))
      val aug = t(s, dir, "documents")
        .withColumn("t", concat(col("text"), lit(" card "), fmt,
          lit(" ref "), invalid, lit(" end")))
      aug.select(col("doc_id"),
          size(RedactOps.extractCards(col("t"))).as("n_cards"),
          md5(RedactOps.redactCards(col("t"))).as("red_md5"))
        .orderBy("doc_id")
    }),
    "q_blocklist" -> ((s, dir) => {
      // one-pass Aho-Corasick blocklist over augmented docs: two
      // planted terms by arithmetic plus two multi-word phrases that
      // occur NATURALLY in the corpus vocabulary — present/absent
      // semantics, so the oracle is contains() per term.
      import org.apache.spark.sql.graft.NativeFunctions
      val terms = Seq("badgerword", "zebraword", "line sort",
        "merge batch")
      val aug = t(s, dir, "documents")
        .withColumn("t", concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" badgerword"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit(" zebraword tail")).otherwise(lit(""))))
      aug.withColumn("m",
          NativeFunctions.blocklistMatchesNative(col("t"), terms))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(size(col("m")) > 0, 1L).otherwise(0L))
            .as("n_flagged"),
          sum(size(col("m")).cast("long")).as("total_hits"),
          sum(when(array_contains(col("m"), 0), 1L).otherwise(0L))
            .as("n_badger"),
          sum(when(array_contains(col("m"), 1), 1L).otherwise(0L))
            .as("n_zebra"),
          sum(when(array_contains(col("m"), 2), 1L).otherwise(0L))
            .as("n_linesort"),
          sum(when(array_contains(col("m"), 3), 1L).otherwise(0L))
            .as("n_mergebatch"))
        .orderBy("source")
    }),
    "q_contamination_idx" -> ((s, dir) => {
      // decontamination via the persisted hash index must equal the
      // string-level screen exactly on this corpus (64-bit collisions
      // would only merge grams; none occur at benchmark sizes) — the
      // oracle replays the string-level screen, and idx_equals_direct
      // pins the equivalence Spark-side.
      import graft.text.TextOps
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 10)
      val idx = TextOps.contaminationIndex(bench, col("text"), n = 5)
      val viaIdx = TextOps.ngramContaminationIndexed(docs,
        col("doc_id"), col("text"), idx, n = 5)
      val direct = TextOps.ngramContamination(docs, col("doc_id"),
        col("text"), bench, col("text"), n = 5)
      val eq = viaIdx.withColumnRenamed("n_hits", "hi")
        .join(direct.withColumnRenamed("n_hits", "hd"),
          Seq("doc_id"), "full")
        .agg(coalesce(bool_and(col("hi") === col("hd")), lit(true))
          .as("idx_equals_direct"))
      docs.select(col("doc_id"), col("source"))
        .join(viaIdx, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_hits")).as("n_contaminated"),
          sum(coalesce(col("n_hits"), lit(0L))).as("total_hits"))
        .crossJoin(eq)
        .orderBy("source")
    })
  )

  // Shared augmentation SQL (must mirror the Spark-side concat exactly)
  // NOTE: these fragments are interpolated into outer strings that
  // apply .stripMargin AFTERWARDS — no line here may start with `|`
  // (e.g. a leading `||` concat operator loses its first char).
  private val gopherAug =
    "SELECT source, text || " +
      "CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- bullet one' || " +
      "chr(10) || '- bullet two' || chr(10) || '* third bullet' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN chr(10) || " +
      "'this line trails off...' || chr(10) || 'and another…' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' ### ## # …' ELSE '' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN " +
      "' the data and results have merit to be good with that of' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 6 = 0 THEN " +
      "' 123 456 789 012 345 678 901 234' ELSE '' END AS t " +
      "FROM documents"

  private val c4Aug =
    "SELECT source, " +
      "'The first line of the page ends with a period.' || chr(10) " +
      "|| text || " +
      "CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END || " +
      "chr(10) || 'short line' || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || " +
      "'this line mentions javascript explicitly.' ELSE '' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN chr(10) || " +
      "'Alpha beta. Gamma delta. Epsilon zeta. Eta theta. Iota kappa.' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN chr(10) || " +
      "'Lorem ipsum dolor sit amet.' ELSE '' END || " +
      "CASE WHEN doc_id % 13 = 0 THEN chr(10) || " +
      "'var config = { broken' ELSE '' END || " +
      "CASE WHEN doc_id % 17 = 0 THEN ' blockedword tail' " +
      "ELSE '' END AS t " +
      "FROM documents"

  def oracles: Map[String, String] = Map(
    "q_gopher_rules" ->
      s"""WITH aug AS ($gopherAug),
         |m AS (
         |  SELECT source,
         |    len(list_filter(regexp_split_to_array(trim(t), '\\s+'),
         |      w -> w <> '')) AS nw,
         |    length(regexp_replace(t, '\\s', '', 'g'))::DOUBLE AS nonws,
         |    len(regexp_extract_all(t, '#|\\.\\.\\.|…')) AS nsym,
         |    list_filter(string_split(t, chr(10)),
         |      l -> trim(l) <> '') AS ls,
         |    regexp_split_to_array(trim(t), '\\s+') AS toks,
         |    ' ' || regexp_replace(lower(t), '\\s+', ' ', 'g') || ' '
         |      AS pad
         |  FROM aug),
         |m2 AS (
         |  SELECT source, nw,
         |    CASE WHEN nw > 0 THEN nonws / nw ELSE 0.0 END AS mwl,
         |    CASE WHEN nw > 0 THEN nsym::DOUBLE / nw ELSE 0.0 END
         |      AS symr,
         |    len(ls) AS nl,
         |    len(list_filter(ls,
         |      l -> regexp_matches(trim(l), '^[-*•‣▪]'))) AS nb,
         |    len(list_filter(ls,
         |      l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS ne,
         |    len(list_filter(toks,
         |      w -> regexp_matches(w, '[A-Za-z]'))) AS na,
         |    (CASE WHEN contains(pad, ' the ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' be ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' to ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' of ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' and ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' that ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' have ') THEN 1 ELSE 0 END
         |     + CASE WHEN contains(pad, ' with ') THEN 1 ELSE 0 END)
         |      AS nstop
         |  FROM m),
         |r AS (
         |  SELECT source, nw, mwl, symr, nstop,
         |    CASE WHEN nl > 0 THEN nb::DOUBLE / nl ELSE 0.0 END AS bf,
         |    CASE WHEN nl > 0 THEN ne::DOUBLE / nl ELSE 0.0 END AS ef,
         |    CASE WHEN nw > 0 THEN na::DOUBLE / nw ELSE 0.0 END AS af
         |  FROM m2),
         |b AS (
         |  SELECT source, mwl, symr, af, nstop,
         |    (nw >= 50 AND nw <= 100000) AS r_wc,
         |    (mwl >= 3.0 AND mwl <= 10.0) AS r_mwl,
         |    (symr <= 0.1) AS r_sym,
         |    (bf <= 0.9) AS r_bul,
         |    (ef <= 0.3) AS r_ell,
         |    (af >= 0.8) AS r_alp,
         |    (nstop >= 2) AS r_stp
         |  FROM r)
         |SELECT source, COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_bul AND r_ell
         |    AND r_alp AND r_stp THEN 1 ELSE 0 END)::BIGINT AS n_pass,
         |  SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END)::BIGINT
         |    AS f_word_count,
         |  SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END)::BIGINT AS f_mwl,
         |  SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END)::BIGINT
         |    AS f_symbol,
         |  SUM(CASE WHEN NOT r_bul THEN 1 ELSE 0 END)::BIGINT
         |    AS f_bullet,
         |  SUM(CASE WHEN NOT r_ell THEN 1 ELSE 0 END)::BIGINT
         |    AS f_ellipsis,
         |  SUM(CASE WHEN NOT r_alp THEN 1 ELSE 0 END)::BIGINT
         |    AS f_alpha,
         |  SUM(CASE WHEN NOT r_stp THEN 1 ELSE 0 END)::BIGINT
         |    AS f_stop,
         |  ROUND(AVG(mwl), 6) AS avg_mwl,
         |  ROUND(AVG(symr), 6) AS avg_symbol_ratio,
         |  ROUND(AVG(af), 6) AS avg_alpha_frac,
         |  ROUND(AVG(nstop), 6) AS avg_stopwords
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_c4_rules" ->
      s"""WITH aug AS ($c4Aug),
         |c AS (
         |  SELECT source,
         |    len(string_split(t, chr(10))) AS n_lines,
         |    list_filter(string_split(t, chr(10)), l ->
         |      regexp_matches(trim(l), '[.!?"]$$')
         |      AND len(list_filter(
         |        regexp_split_to_array(trim(l), '\\s+'),
         |        w -> w <> '')) >= 3
         |      AND NOT contains(lower(l), 'javascript')) AS kept,
         |    contains(lower(t), 'lorem ipsum') AS has_lorem,
         |    contains(t, '{') AS has_brace,
         |    contains(' ' || regexp_replace(lower(t), '\\s+', ' ', 'g')
         |      || ' ', ' blockedword ') AS has_bad
         |  FROM aug),
         |d AS (
         |  SELECT source, n_lines, len(kept) AS n_kept,
         |    CASE WHEN len(kept) > 0
         |      THEN array_to_string(kept, chr(10)) END AS cleaned,
         |    has_lorem, has_brace, has_bad
         |  FROM c),
         |e AS (
         |  SELECT source, n_kept,
         |    CASE WHEN n_kept > 0
         |      THEN len(regexp_extract_all(cleaned, '[.!?]'))
         |      ELSE 0 END AS n_sent,
         |    has_lorem, has_brace, has_bad,
         |    COALESCE(length(cleaned), 0) AS clen
         |  FROM d)
         |SELECT source, COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN n_sent >= 5 AND NOT has_lorem AND NOT
         |    has_brace AND NOT has_bad THEN 1 ELSE 0 END)::BIGINT
         |    AS n_keep,
         |  SUM(n_kept)::BIGINT AS kept_lines,
         |  SUM(n_sent)::BIGINT AS sentences,
         |  SUM(CASE WHEN has_lorem THEN 1 ELSE 0 END)::BIGINT
         |    AS n_lorem,
         |  SUM(CASE WHEN has_brace THEN 1 ELSE 0 END)::BIGINT
         |    AS n_brace,
         |  SUM(CASE WHEN has_bad THEN 1 ELSE 0 END)::BIGINT AS n_bad,
         |  SUM(clen)::BIGINT AS cleaned_chars
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS t
        |  FROM documents WHERE doc_id < 100),
        |w AS (
        |  SELECT doc_id, s.i AS st, t[s.i + 1 : s.i + 32] AS w
        |  FROM tk, UNNEST(generate_series(0, len(t) - 1, 24)) AS s(i)
        |  WHERE len(t) > 0)
        |SELECT doc_id, (st // 24)::INT AS chunk_id, st::INT
        |    AS chunk_start,
        |  len(w)::INT AS n_chunk_tokens,
        |  md5(array_to_string(w, ' ')) AS chunk_md5
        |FROM w ORDER BY doc_id, chunk_id""".stripMargin,
    "q_sentence_dedup" ->
      """WITH pages AS (
        |  SELECT doc_id AS page_id,
        |    'Common preamble sentence variant ' || (doc_id % 7)
        |    || '. ' || text || '. Shared closing sentence for group '
        |    || (doc_id % 11) || '!' AS ptext
        |  FROM documents),
        |sents0 AS (
        |  SELECT page_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(ptext, '[^.!?]+[.!?]+'),
        |      x -> trim(x)), x -> x <> '') AS ss
        |  FROM pages),
        |sents AS (
        |  SELECT page_id, u['i'] - 1 AS idx, u['s'] AS sent
        |  FROM (SELECT page_id,
        |          unnest(list_transform(ss,
        |            (x, i) -> {'i': i, 's': x})) AS u
        |        FROM sents0)),
        |kept AS (
        |  SELECT page_id, idx, sent,
        |    row_number() OVER (PARTITION BY md5(sent)
        |                       ORDER BY page_id, idx) AS rk
        |  FROM sents)
        |SELECT page_id, count(*)::BIGINT AS n_sents,
        |  count(*) FILTER (WHERE rk = 1)::BIGINT AS n_kept,
        |  md5(COALESCE(string_agg(sent, ' ' ORDER BY idx)
        |        FILTER (WHERE rk = 1), '<empty>')) AS rebuilt_md5
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hash_split" -> {
      val b80 = graft.sample.SampleOps.hashSplitBound(0.8)
      val b90 = graft.sample.SampleOps.hashSplitBound(0.9)
      s"""WITH sp AS (
         |  SELECT doc_id, 'h' || (doc_id % 97) AS host
         |  FROM documents),
         |a AS (
         |  SELECT host,
         |    CASE WHEN substring(md5(host || ':7'), 1, 12) < '$b80'
         |           THEN 'train'
         |         WHEN substring(md5(host || ':7'), 1, 12) < '$b90'
         |           THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM sp),
         |l AS (
         |  SELECT COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END),
         |    0)::BIGINT AS n_leaky
         |  FROM (SELECT host, COUNT(DISTINCT split) AS ns
         |        FROM a GROUP BY 1))
         |SELECT split, COUNT(*)::BIGINT AS n_docs,
         |  COUNT(DISTINCT host)::BIGINT AS n_hosts,
         |  (SELECT n_leaky FROM l) AS n_leaky
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_dsir" -> {
      // hex digit i (1-based) of md5 column m, as SQL int arithmetic
      def hd(i: Int): String =
        s"(CASE WHEN substring(m,$i,1) BETWEEN '0' AND '9' " +
          s"THEN ascii(substring(m,$i,1)) - 48 " +
          s"ELSE ascii(substring(m,$i,1)) - 87 END)"
      val bucket2 = s"(${hd(1)} * 16 + ${hd(2)}) % 64"
      val hex8v = (1 to 8).map(i =>
        s"${hd(i)}::BIGINT * ${math.pow(16, 8 - i).toLong}")
        .mkString(" + ")
      s"""WITH tk AS (
         |  SELECT doc_id, n_chars,
         |    list_filter(regexp_split_to_array(lower(trim(text)),
         |      '\\s+'), w -> w <> '') AS t
         |  FROM documents),
         |uni AS (SELECT doc_id, u.g FROM tk, UNNEST(t) AS u(g)),
         |bi AS (
         |  SELECT doc_id, t[s.i] || ' ' || t[s.i + 1] AS g
         |  FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
         |  WHERE len(t) >= 2),
         |b AS (
         |  SELECT doc_id, $bucket2 AS bucket
         |  FROM (SELECT doc_id, md5(g) AS m
         |        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi))),
         |cnt AS (
         |  SELECT doc_id, bucket, COUNT(*)::BIGINT AS c
         |  FROM b GROUP BY 1, 2),
         |craw AS (SELECT bucket, SUM(c) AS cr FROM cnt GROUP BY 1),
         |ctgt AS (
         |  SELECT bucket, SUM(c) AS ct
         |  FROM cnt JOIN documents USING (doc_id)
         |  WHERE n_chars > 350 GROUP BY 1),
         |rng AS (
         |  SELECT unnest(generate_series(0, 63)) AS bucket),
         |model AS (
         |  SELECT r.bucket,
         |    ln((COALESCE(ct, 0) + 0.1) /
         |       ((SELECT COALESCE(SUM(ct), 0) FROM ctgt) + 0.1 * 64))
         |    - ln((COALESCE(cr, 0) + 0.1) /
         |       ((SELECT COALESCE(SUM(cr), 0) FROM craw) + 0.1 * 64))
         |      AS lr
         |  FROM rng r
         |  LEFT JOIN craw ON r.bucket = craw.bucket
         |  LEFT JOIN ctgt ON r.bucket = ctgt.bucket),
         |sc AS (
         |  SELECT doc_id, SUM(c * lr) AS log_w
         |  FROM cnt JOIN model USING (bucket) GROUP BY 1),
         |gn AS (
         |  SELECT doc_id, -ln(-ln((($hex8v) + 0.5) / 4294967296.0))
         |    AS g
         |  FROM (SELECT doc_id, md5(doc_id || ':42') AS m
         |        FROM documents)),
         |sc2 AS (
         |  SELECT d.doc_id, COALESCE(sc.log_w, 0.0) AS lw,
         |    COALESCE(sc.log_w, 0.0) + gn.g AS k
         |  FROM documents d
         |  LEFT JOIN sc ON d.doc_id = sc.doc_id
         |  JOIN gn ON d.doc_id = gn.doc_id),
         |sel AS (
         |  SELECT doc_id, lw, k FROM sc2
         |  ORDER BY k DESC, doc_id LIMIT 60)
         |SELECT doc_id, ROUND(lw, 6) AS log_w, ROUND(k, 6) AS sel_key
         |FROM sel ORDER BY doc_id""".stripMargin
    },
    "q_mojibake" ->
      """SELECT doc_id, true AS detected, true AS clean_quiet,
        |  true AS roundtrip_ok,
        |  md5(text || ' Grüße café № ' || (doc_id % 7)
        |    || ' — “déjà vu” über 😀') AS fixed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_incremental_dedup" ->
      """WITH n AS (
        |  SELECT doc_id AS d,
        |    array_to_string(regexp_split_to_array(lower(trim(text)),
        |      '\s+'), ' ') AS t
        |  FROM documents)
        |SELECT
        |  (SELECT COUNT(*) FROM n l JOIN n r
        |     ON l.t = r.t AND l.d < r.d AND l.d % 2 <> r.d % 2
        |  )::BIGINT AS n_ident_cross,
        |  true AS ident_found,
        |  true AS inc_equals_full""".stripMargin,
    "q_curation_report" -> {
      // identical stopword scoring to the q_lang_id oracle
      def score(lang: String): String =
        graft.text.TextOps.langProfiles(lang).map(w =>
          s"(LENGTH(p) - LENGTH(REPLACE(p, '$w', ''))) / ${w.length}.0")
          .mkString(" + ")
      s"""WITH m AS (
         |  SELECT doc_id, source, text,
         |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w <> '')) AS nw,
         |    length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
         |      AS nonws,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS nsym,
         |    list_filter(string_split(text, chr(10)),
         |      l -> trim(l) <> '') AS ls,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    ' ' || LOWER(text) || ' ' AS p
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, text, nw,
         |    (nw >= 30 AND nw <= 100000) AS r_wc,
         |    (CASE WHEN nw > 0 THEN nonws / nw ELSE 0.0 END
         |       BETWEEN 2.0 AND 10.0) AS r_mwl,
         |    (CASE WHEN nw > 0 THEN nsym::DOUBLE / nw ELSE 0.0 END
         |       <= 0.1) AS r_sym,
         |    (CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
         |         l -> regexp_matches(trim(l), '^[-*•‣▪]')))::DOUBLE
         |         / len(ls) ELSE 0.0 END <= 0.9) AS r_bul,
         |    (CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
         |         l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))
         |         ::DOUBLE / len(ls) ELSE 0.0 END <= 0.3) AS r_ell,
         |    (CASE WHEN nw > 0 THEN len(list_filter(toks,
         |         w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / nw
         |       ELSE 0.0 END >= 0.8) AS r_alp,
         |    ${score("de")} AS s_de,
         |    ${score("en")} AS s_en,
         |    ${score("es")} AS s_es,
         |    ${score("fr")} AS s_fr,
         |    LENGTH(regexp_replace(text,
         |      '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk
         |  FROM m),
         |g AS (
         |  SELECT doc_id, source, text, nw,
         |    (CASE WHEN cjk > 0 THEN 'zh'
         |       WHEN s_de >= GREATEST(s_en, s_es, s_fr) THEN 'de'
         |       WHEN s_en >= GREATEST(s_es, s_fr) THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END = 'en') AS is_en,
         |    (r_wc AND r_mwl AND r_sym AND r_bul AND r_ell AND r_alp)
         |      AS pass
         |  FROM b),
         |ded AS (
         |  SELECT source, nw FROM (
         |    SELECT source, nw, ROW_NUMBER() OVER (
         |      PARTITION BY LOWER(TRIM(regexp_replace(text, '\\s+',
         |        ' ', 'g'))) ORDER BY doc_id) AS rn
         |    FROM g WHERE is_en AND pass)
         |  WHERE rn = 1),
         |da AS (
         |  SELECT source, COUNT(*)::BIGINT AS n_final,
         |    SUM(nw)::BIGINT AS final_words
         |  FROM ded GROUP BY 1)
         |SELECT g.source, COUNT(*)::BIGINT AS n_raw,
         |  SUM(CASE WHEN is_en THEN 1 ELSE 0 END)::BIGINT AS n_lang,
         |  SUM(CASE WHEN is_en AND pass THEN 1 ELSE 0 END)::BIGINT
         |    AS n_rules,
         |  COALESCE(MAX(da.n_final), 0)::BIGINT AS n_final,
         |  COALESCE(MAX(da.final_words), 0)::BIGINT AS final_words
         |FROM g LEFT JOIN da ON g.source = da.source
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |words AS (
        |  SELECT doc_id, u['pos'] - 1 AS pos, u['w'] AS w
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t,
        |            (x, i) -> {'pos': i, 'w': x})) AS u
        |        FROM toks)),
        |big AS (
        |  SELECT doc_id, pos, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM words QUALIFY w2 IS NOT NULL),
        |cu AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
        |cb AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
        |v AS (SELECT count(*) AS v FROM cu),
        |ppl AS MATERIALIZED (
        |  SELECT b.doc_id,
        |    exp(avg(-ln((cb.c + 0.4) / (cu.c + 0.4 * v.v)))) AS ppl
        |  FROM big b
        |  JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        |  JOIN cu ON cu.w = b.w1
        |  CROSS JOIN v GROUP BY 1),
        |wg AS MATERIALIZED (
        |  SELECT d.source AS grp, p.doc_id, p.ppl
        |  FROM ppl p JOIN documents d USING (doc_id)),
        |cu2 AS MATERIALIZED (
        |  SELECT grp, quantile_cont(ppl, 0.26) AS c1,
        |    quantile_cont(ppl, 0.74) AS c2
        |  FROM wg GROUP BY 1),
        |lab AS (
        |  SELECT wg.grp,
        |    CASE WHEN ppl <= c1 THEN 'head'
        |         WHEN ppl <= c2 THEN 'middle'
        |         ELSE 'tail' END AS bucket, ppl
        |  FROM wg JOIN cu2 USING (grp))
        |SELECT grp AS source, bucket, COUNT(*)::BIGINT AS n_docs,
        |  ROUND(AVG(ppl), 4) AS avg_ppl
        |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_jl_project" -> {
      // value of hex digits [a..b] (1-based) of md5 column m
      def hexVal(a: Int, b: Int): String = (a to b).map(i =>
        s"(CASE WHEN substring(m,$i,1) BETWEEN '0' AND '9' " +
          s"THEN ascii(substring(m,$i,1)) - 48 " +
          s"ELSE ascii(substring(m,$i,1)) - 87 END)::BIGINT * " +
          s"${math.pow(16, b - i).toLong}")
        .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 200),
         |ji AS (
         |  SELECT jj.j, ii.i,
         |    md5('jl:1:' || jj.j || ':' || ii.i) AS m
         |  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
         |       (SELECT unnest(generate_series(0, 63)) AS i) ii),
         |g AS (
         |  SELECT j, i,
         |    sqrt(-2 * ln(((${hexVal(1, 8)}) + 0.5) / 4294967296.0))
         |    * cos(2 * pi() * (((${hexVal(9, 16)}) + 0.5)
         |        / 4294967296.0)) AS g
         |  FROM ji),
         |p AS (
         |  SELECT e.vec_id, g.j,
         |    SUM(e.embedding[g.i + 1]::DOUBLE * g.g) / 4.0 AS pj
         |  FROM e, g GROUP BY 1, 2)
         |SELECT vec_id,
         |  ROUND(MAX(CASE WHEN j = 0 THEN pj END), 6) AS p0,
         |  ROUND(MAX(CASE WHEN j = 7 THEN pj END), 6) AS p7,
         |  ROUND(MAX(CASE WHEN j = 15 THEN pj END), 6) AS p15
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_jl_ann" ->
      // the closed-form separated-regime answer: top-1 of query j is
      // its planted twin j % 64 at exact cosine 0.96 (unit-norm
      // construction), rank 1
      """SELECT doc_id AS qid, doc_id % 64 AS cid, 0.96 AS cos,
        |  1 AS rk
        |FROM documents WHERE doc_id >= 100 AND doc_id < 140
        |ORDER BY qid""".stripMargin,
    "q_nfc_normalize" ->
      // combining marks injected via chr(): 769=U+0301 acute,
      // 778=U+030A ring, 776=U+0308 diaeresis
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(778)
        |      || 'ngstro' || chr(776) || 'm vol ' || (doc_id % 9)
        |      AS raw
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, length(raw) AS len_raw,
        |  length(nfc_normalize(raw)) AS len_nfc,
        |  md5(nfc_normalize(raw)) AS nfc_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
    "q_tokenizer_fertility" ->
      """SELECT source,
        |  SUM(strlen(text))::BIGINT AS bytes,
        |  SUM(len(regexp_split_to_array(TRIM(text), '\s+')))::BIGINT
        |    AS ws_tokens,
        |  SUM(list_sum(list_transform(
        |    regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |    w -> GREATEST(CEIL(LENGTH(w) / 4.0)::BIGINT, 1))))::BIGINT
        |    AS bpe_tokens,
        |  ROUND(SUM(strlen(text))::DOUBLE /
        |    SUM(len(regexp_split_to_array(TRIM(text), '\s+'))), 4)
        |    AS bytes_per_ws_token,
        |  ROUND(SUM(strlen(text))::DOUBLE /
        |    SUM(list_sum(list_transform(
        |      regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |      w -> GREATEST(CEIL(LENGTH(w) / 4.0)::BIGINT, 1)))), 4)
        |    AS bytes_per_bpe_token
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zipf_yule" ->
      """WITH toks AS (
        |  SELECT source, u.t
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(
        |      LOWER(TRIM(text)), '\s+'), w -> w <> '')) AS u(t)),
        |tc AS (
        |  SELECT source, t, COUNT(*)::BIGINT AS n
        |  FROM toks GROUP BY 1, 2),
        |r AS (
        |  SELECT source, n,
        |    LN((ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY n DESC, t))::DOUBLE) lr,
        |    LN(n::DOUBLE) lf
        |  FROM tc)
        |SELECT source, COUNT(*)::BIGINT AS n_types,
        |  SUM(n)::BIGINT AS n_tokens,
        |  ROUND(10000.0 * (SUM(n*n) - SUM(n))::DOUBLE
        |    / (SUM(n)::DOUBLE * SUM(n)), 6) AS yule_k,
        |  ROUND(SUM(n*(n-1))::DOUBLE
        |    / (SUM(n)::DOUBLE * (SUM(n) - 1)), 8) AS simpson_d,
        |  ROUND(COVAR_POP(lr, lf) / VAR_POP(lr), 6) AS zipf_slope,
        |  ROUND(COVAR_POP(lr, lf) * COVAR_POP(lr, lf)
        |    / (VAR_POP(lr) * VAR_POP(lf)), 6) AS zipf_r2
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vocab_stats" ->
      """WITH toks AS (
        |  SELECT source, u.t
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(
        |      LOWER(TRIM(text)), '\s+'), w -> w <> '')) AS u(t)),
        |tc AS (
        |  SELECT source, t, COUNT(*)::BIGINT AS n
        |  FROM toks GROUP BY 1, 2)
        |SELECT source, COUNT(*)::BIGINT AS n_types,
        |  SUM(n)::BIGINT AS n_tokens,
        |  SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  ROUND(COUNT(*)::DOUBLE / SUM(n), 6) AS ttr,
        |  ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / COUNT(*), 6) AS hapax_frac
        |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_jsonl_roundtrip" ->
      """SELECT (COUNT(*) + 4)::BIGINT AS n_rows,
        |  3::BIGINT AS n_corrupt,
        |  (COUNT(*) + 1)::BIGINT AS n_valid,
        |  (SUM(doc_id) - 1)::BIGINT AS sum_doc_id,
        |  (COUNT(DISTINCT source) + 1)::BIGINT AS n_sources,
        |  (SUM(LENGTH(text)) + LENGTH('planted extra row'))::BIGINT
        |    AS text_chars
        |FROM documents""".stripMargin,
    "q_snapshot_diff" ->
      """WITH st AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'removed'
        |         WHEN doc_id % 7 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, 'added' AS status
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT status, COUNT(*)::BIGINT AS n,
        |  SUM(doc_id)::BIGINT AS sum_id
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_orc_roundtrip" ->
      // same row set + same 60-bit md5-prefix digest over the parquet
      // originals: equality proves the ORC write/read preserved every
      // byte of every surviving row
      """SELECT COUNT(*)::BIGINT AS n_rows,
        |  SUM(doc_id)::BIGINT AS sum_doc_id,
        |  COUNT(DISTINCT source)::BIGINT AS n_sources,
        |  SUM(LENGTH(text))::BIGINT AS text_chars,
        |  SUM((('0x' || substr(md5(concat_ws(chr(1),
        |      doc_id::VARCHAR, source, text)), 1, 15))::UBIGINT
        |    % 1000000007)::BIGINT)::BIGINT AS md5_digest
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    "q_sx_lm_kn" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE doc_id %
        |    (CASE WHEN (SELECT COUNT(*) FROM documents) > 10000
        |          THEN 100 ELSE 10 END) = 0
        |    AND length(trim(text)) > 0),
        |words AS MATERIALIZED (
        |  SELECT doc_id, u['pos'] - 1 AS pos, u['w'] AS w
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t,
        |            (x, i) -> {'pos': i, 'w': x})) AS u
        |        FROM toks)),
        |big AS MATERIALIZED (
        |  SELECT doc_id, pos, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM words QUALIFY w2 IS NOT NULL),
        |cb AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f
        |       FROM cb GROUP BY 1),
        |nc AS MATERIALIZED (SELECT w2, COUNT(*) AS ncont FROM cb GROUP BY 1),
        |nb AS MATERIALIZED (SELECT COUNT(*) AS nbig FROM cb)
        |SELECT b.doc_id, COUNT(*) AS n_ngrams,
        |  ROUND(AVG(-ln(
        |    GREATEST(cb.c12 - 0.75, 0) / c1.c1
        |    + 0.75 * c1.n1f / c1.c1 * nc.ncont / nb.nbig)), 4)
        |    AS cross_entropy,
        |  ROUND(EXP(AVG(-ln(
        |    GREATEST(cb.c12 - 0.75, 0) / c1.c1
        |    + 0.75 * c1.n1f / c1.c1 * nc.ncont / nb.nbig))), 2)
        |    AS ppl
        |FROM big b
        |JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        |JOIN c1 ON c1.w1 = b.w1
        |JOIN nc ON nc.w2 = b.w2
        |CROSS JOIN nb
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lm_kn" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |words AS MATERIALIZED (
        |  SELECT doc_id, u['pos'] - 1 AS pos, u['w'] AS w
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t,
        |            (x, i) -> {'pos': i, 'w': x})) AS u
        |        FROM toks)),
        |big AS MATERIALIZED (
        |  SELECT doc_id, pos, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM words QUALIFY w2 IS NOT NULL),
        |cb AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f
        |       FROM cb GROUP BY 1),
        |nc AS MATERIALIZED (SELECT w2, COUNT(*) AS ncont FROM cb GROUP BY 1),
        |nb AS MATERIALIZED (SELECT COUNT(*) AS nbig FROM cb)
        |SELECT b.doc_id, COUNT(*) AS n_ngrams,
        |  ROUND(AVG(-ln(
        |    GREATEST(cb.c12 - 0.75, 0) / c1.c1
        |    + 0.75 * c1.n1f / c1.c1 * nc.ncont / nb.nbig)), 4)
        |    AS cross_entropy,
        |  ROUND(EXP(AVG(-ln(
        |    GREATEST(cb.c12 - 0.75, 0) / c1.c1
        |    + 0.75 * c1.n1f / c1.c1 * nc.ncont / nb.nbig))), 2)
        |    AS ppl
        |FROM big b
        |JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        |JOIN c1 ON c1.w1 = b.w1
        |JOIN nc ON nc.w2 = b.w2
        |CROSS JOIN nb
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_winnow" -> {
      // 48-bit gram hash = first 12 hex chars of md5, as SQL int
      // arithmetic (same idiom as the q_dsir oracle)
      val hexv = (1 to 12).map(i =>
        s"(CASE WHEN substring(m,$i,1) BETWEEN '0' AND '9' " +
          s"THEN ascii(substring(m,$i,1)) - 48 " +
          s"ELSE ascii(substring(m,$i,1)) - 87 END)::BIGINT * " +
          s"${math.pow(16, 12 - i).toLong}")
        .mkString(" + ")
      s"""WITH aug AS (
         |  SELECT doc_id, text || CASE WHEN doc_id % 25 = 0 THEN
         |    ' shared plagiarized passage appears verbatim in several documents here today'
         |    ELSE '' END AS t
         |  FROM documents WHERE doc_id < 300),
         |tk AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(lower(trim(t)), '\\s+') AS w
         |  FROM aug),
         |ng AS (
         |  SELECT doc_id, s.i - 1 AS pos,
         |    md5(w[s.i] || ' ' || w[s.i+1] || ' ' || w[s.i+2] || ' '
         |      || w[s.i+3]) AS m
         |  FROM tk, UNNEST(generate_series(1, len(w) - 3)) AS s(i)
         |  WHERE len(w) >= 4),
         |gh AS (
         |  SELECT doc_id, pos, ($hexv) AS h
         |  FROM ng),
         |sel AS (
         |  SELECT doc_id, pos,
         |    min({'g': h, 'np': -pos}) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS n
         |  FROM gh),
         |fp AS (
         |  SELECT DISTINCT doc_id, -(s['np']) AS fp_pos,
         |    s['g'] AS fp_hash
         |  FROM sel WHERE pos <= n - 4),
         |fh AS (SELECT DISTINCT doc_id, fp_hash FROM fp)
         |SELECT l.doc_id AS id1, r.doc_id AS id2,
         |  COUNT(*)::BIGINT AS n_shared
         |FROM fh l JOIN fh r
         |  ON l.fp_hash = r.fp_hash AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY 1, 2""".stripMargin
    },
    "q_cdx" ->
      """SELECT (200 + (doc_id % 3) * 102)::INT AS status,
        |  COUNT(*)::BIGINT AS n,
        |  SUM(500 + doc_id % 100)::BIGINT AS sum_length,
        |  SUM(doc_id * 1000)::BIGINT AS sum_offset,
        |  COUNT(DISTINCT doc_id % 10)::BIGINT AS n_files,
        |  true AS surt_ok, true AS ts_ok, true AS mime_ok,
        |  true AS digest_ok
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_crawl_plan" ->
      """WITH cand AS (
        |  SELECT doc_id AS i, doc_id % 40 AS host, doc_id % 9 AS pg
        |  FROM documents),
        |cdx AS (
        |  SELECT DISTINCT doc_id % 40 AS host, doc_id % 9 AS pg
        |  FROM documents WHERE doc_id % 5 = 0),
        |g AS (
        |  SELECT c.i, c.host,
        |    (c.pg NOT IN (3, 7)) AS allowed,
        |    (x.host IS NOT NULL) AS captured
        |  FROM cand c
        |  LEFT JOIN cdx x ON c.host = x.host AND c.pg = x.pg)
        |SELECT host, COUNT(*)::BIGINT AS n_candidates,
        |  SUM(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT
        |    AS n_allowed,
        |  SUM(CASE WHEN captured THEN 1 ELSE 0 END)::BIGINT
        |    AS n_captured,
        |  SUM(CASE WHEN allowed AND NOT captured THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_to_fetch
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bradley_terry" -> {
      val base =
        """WITH m0 AS (
          |  SELECT doc_id % 16 AS a0, (doc_id * 7 + 3) % 16 AS b0,
          |    doc_id % 10 AS r
          |  FROM documents),
          |mm AS (
          |  SELECT CASE WHEN r < 6 THEN a0 ELSE b0 END AS w,
          |    CASE WHEN r < 6 THEN b0 ELSE a0 END AS l
          |  FROM m0 WHERE a0 <> b0),
          |wins AS MATERIALIZED (
          |  SELECT w AS id, COUNT(*)::DOUBLE AS wins
          |  FROM mm GROUP BY 1),
          |pairs AS MATERIALIZED (
          |  SELECT LEAST(w, l) AS a, GREATEST(w, l) AS b,
          |    COUNT(*)::DOUBLE AS n
          |  FROM mm GROUP BY 1, 2),
          |np AS (SELECT COUNT(*)::DOUBLE AS n FROM wins),
          |games AS (
          |  SELECT id, SUM(n)::BIGINT AS games FROM (
          |    SELECT a AS id, n FROM pairs
          |    UNION ALL SELECT b, n FROM pairs)
          |  GROUP BY 1),
          |s0 AS (SELECT id, 1.0 AS strength FROM wins)""".stripMargin
      val steps = (1 to 15).map { i =>
        s"""u$i AS MATERIALIZED (
           |  SELECT w.id, w.wins / d.den AS st
           |  FROM wins w JOIN (
           |    SELECT id, SUM(t) AS den FROM (
           |      SELECT p.a AS id,
           |        p.n / (sa.strength + sb.strength) AS t
           |      FROM pairs p
           |      JOIN s${i - 1} sa ON sa.id = p.a
           |      JOIN s${i - 1} sb ON sb.id = p.b
           |      UNION ALL
           |      SELECT p.b, p.n / (sa.strength + sb.strength)
           |      FROM pairs p
           |      JOIN s${i - 1} sa ON sa.id = p.a
           |      JOIN s${i - 1} sb ON sb.id = p.b)
           |    GROUP BY 1) d ON d.id = w.id),
           |s$i AS MATERIALIZED (
           |  SELECT id, st * (SELECT n FROM np)
           |    / (SELECT SUM(st) FROM u$i) AS strength
           |  FROM u$i)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$steps
         |SELECT s.id, ROUND(s.strength, 6) AS strength,
         |  w.wins::BIGINT AS wins, g.games
         |FROM s15 s
         |JOIN wins w ON w.id = s.id
         |JOIN games g ON g.id = s.id
         |ORDER BY s.id""".stripMargin
    },
    "q_card_redact" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    '4' || lpad(((doc_id * 7919) % 100000000000000)::VARCHAR,
        |      14, '0') AS base
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, base,
        |    (10 - list_sum(list_transform(
        |        generate_series(1, 15), i -> CASE WHEN i % 2 = 1
        |          THEN CASE WHEN 2 * (ascii(substring(base, i, 1))
        |              - 48) > 9
        |            THEN 2 * (ascii(substring(base, i, 1)) - 48) - 9
        |            ELSE 2 * (ascii(substring(base, i, 1)) - 48) END
        |          ELSE ascii(substring(base, i, 1)) - 48 END))
        |      % 10) % 10 AS chk
        |  FROM b),
        |d AS (
        |  SELECT doc_id, text, base || chk::VARCHAR AS valid,
        |    base || ((chk + 1) % 10)::VARCHAR AS invalid
        |  FROM c)
        |SELECT doc_id, 1::INT AS n_cards,
        |  md5(text || ' card [CARD] ref ' || invalid || ' end')
        |    AS red_md5
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_blocklist" ->
      """WITH aug AS (
        |  SELECT source, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' badgerword'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' zebraword tail'
        |       ELSE '' END AS t
        |  FROM documents),
        |h AS (
        |  SELECT source,
        |    CASE WHEN contains(t, 'badgerword') THEN 1 ELSE 0 END
        |      AS h0,
        |    CASE WHEN contains(t, 'zebraword') THEN 1 ELSE 0 END
        |      AS h1,
        |    CASE WHEN contains(t, 'line sort') THEN 1 ELSE 0 END
        |      AS h2,
        |    CASE WHEN contains(t, 'merge batch') THEN 1 ELSE 0 END
        |      AS h3
        |  FROM aug)
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  SUM(CASE WHEN h0 + h1 + h2 + h3 > 0 THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_flagged,
        |  SUM(h0 + h1 + h2 + h3)::BIGINT AS total_hits,
        |  SUM(h0)::BIGINT AS n_badger,
        |  SUM(h1)::BIGINT AS n_zebra,
        |  SUM(h2)::BIGINT AS n_linesort,
        |  SUM(h3)::BIGINT AS n_mergebatch
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_contamination_idx" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(LOWER(TRIM(text)), '\s+') t
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    t[s.i] || ' ' || t[s.i+1] || ' ' || t[s.i+2] || ' ' ||
        |    t[s.i+3] || ' ' || t[s.i+4] AS g
        |  FROM tk, UNNEST(generate_series(1, len(t) - 4)) AS s(i)
        |  WHERE len(t) >= 5),
        |bg AS (SELECT DISTINCT g FROM ng WHERE doc_id < 10),
        |h AS (
        |  SELECT doc_id, COUNT(DISTINCT g) n_hits
        |  FROM ng JOIN bg USING (g) GROUP BY 1)
        |SELECT d.source, COUNT(*)::BIGINT AS n_docs,
        |  COUNT(h.n_hits)::BIGINT AS n_contaminated,
        |  SUM(COALESCE(h.n_hits, 0))::BIGINT AS total_hits,
        |  true AS idx_equals_direct
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
