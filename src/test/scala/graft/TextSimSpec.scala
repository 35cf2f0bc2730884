package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MultimodalOps
import graft.sim.SimOps
import graft.text.TextOps

/** Text-analysis, dedup, similarity-search and multimodal plumbing.
  * Hash-based ops (minhash / simhash / LSH) are checked against exact
  * brute-force baselines computed on the same small frame — the property
  * that matters at 100 TB (recall of the bucketed path vs the exact
  * path), measured where it is cheap.
  */
class TextSimSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private val docsDir = "/root/testdata/sf0.001"

  test("langId picks the language whose stopwords dominate") {
    import spark.implicits._
    val df = Seq(
      ("the cat and the dog is going to the park and it is nice", "en"),
      ("el perro y la casa de los amigos que viven en la ciudad", "es"),
      ("der hund und die katze ist das beste und der mann", "de"),
      ("le chien et les amis des villes et le chat", "fr"),
      ("中文文本处理", "zh")
    ).toDF("text", "expected")
    val got = df.withColumn("pred", TextOps.langId(col("text"))).collect()
    got.foreach(r => assert(r.getString(2) == r.getString(1),
      s"text='${r.getString(0)}'"))
  }

  test("quality features match hand math") {
    import spark.implicits._
    val text = "Hello world, this is a test."
    val df = Seq(text).toDF("text")
      .select(TextOps.qualityFeatures(col("text")).as("q"))
      .select("q.*").collect()(0)
    assert(df.getAs[Long]("n_chars") == text.length)
    assert(df.getAs[Long]("n_tokens") == 6)
    // mean word len = (28 - 6 + 1) / 6
    assert(math.abs(df.getAs[Double]("mean_word_len") - 23.0 / 6) < 1e-12)
    // punct = 2 of [.,;:!?] in 28 chars
    assert(math.abs(df.getAs[Double]("punct_ratio") - 2.0 / 28) < 1e-12)
  }

  test("repetition signals match hand math") {
    import spark.implicits._
    // doc 1: lines [a b, a b, c] → n_lines=3, distinct=2,
    //   dup_line_frac = 1/3; dup chars = 2*3 of total 2*3+1 = 6/7
    //   2-grams (tokens a b a b c): [a b, b a, a b, b c] → top "a b"
    //   2/4, dup 2/4
    // doc 2: single line, no repeated 2-gram
    // doc 3: whitespace only → all signals 0
    val df = Seq(
      (1L, "a b\na b\nc"),
      (2L, "x y z"),
      (3L, "   ")).toDF("id", "text")
    val got = TextOps.repetitionSignals(df, col("id"), col("text"), 2)
      .orderBy("doc").collect()
    val r1 = got.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Long]("n_lines") == 3)
    assert(math.abs(r1.getAs[Double]("dup_line_frac") - 1.0 / 3) < 1e-12)
    assert(math.abs(r1.getAs[Double]("dup_line_char_frac") - 6.0 / 7)
      < 1e-12)
    assert(math.abs(r1.getAs[Double]("top_ngram_frac") - 0.5) < 1e-12)
    assert(math.abs(r1.getAs[Double]("dup_ngram_frac") - 0.5) < 1e-12)
    val r2 = got.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Double]("dup_line_frac") == 0.0)
    assert(r2.getAs[Double]("top_ngram_frac") == 0.5) // 1 of 2 2-grams
    assert(r2.getAs[Double]("dup_ngram_frac") == 0.0)
    val r3 = got.find(_.getLong(0) == 3L).get
    assert(r3.getAs[Long]("n_lines") == 0)
    assert(r3.getAs[Double]("dup_line_frac") == 0.0)
    assert(r3.getAs[Double]("top_ngram_frac") == 0.0)
  }

  test("tokenCount / tokenCountBpe") {
    import spark.implicits._
    val df = Seq("one two three", "supercalifragilistic yes").toDF("text")
    val r = df.select(TextOps.tokenCount(col("text")).as("ws"),
      TextOps.tokenCountBpe(col("text")).as("bpe")).collect()
    assert(r(0).getInt(0) == 3)
    assert(r(0).getLong(1) == 4L) // 1 + 1 + ceil(5/4)=2
    assert(r(1).getInt(0) == 2)
    assert(r(1).getLong(1) == 6L) // ceil(20/4)=5 + 1
  }

  test("fingerprint dedup keeps one row per normalized text") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),   // same after normalization
      (3L, "different doc")
    ).toDF("doc_id", "text")
    val kept = TextOps.exactDedup(df, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("jaccardDupPairs finds exactly the overlapping pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", "x"),
      (2L, "a b c e", "x"),  // jaccard 3/5 = 0.6
      (3L, "p q r s", "x"),
      (4L, "a b c d", "y")   // other block - no cross-block pair
    ).toDF("doc_id", "text", "src")
    val pairs = TextOps.jaccardDupPairs(df, col("doc_id"), col("text"),
      col("src"), 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id1") == 1L)
    assert(pairs(0).getAs[Long]("id2") == 2L)
    assert(math.abs(pairs(0).getAs[Double]("jaccard") - 0.6) < 1e-12)
  }

  test("jaccard hybrid routing: prefix leg output-identical to triangle") {
    // same corpus, one block: routeThreshold above the block size keeps
    // every block on the triangle leg; below it, the whole block takes
    // the SSJoin prefix leg. Outputs (ids AND exact jaccard values)
    // must be identical — for word sets and for k-word shingle sets.
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"), lit("all").as("blk"))
    for (k <- Seq(1, 3)) {
      def run(route: Long) = TextOps.jaccardDupPairs(docs, col("doc_id"),
          col("text"), col("blk"), 0.6, shingleK = k,
          routeThreshold = route)
        .select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val triangle = run(100000L)
      val prefix = run(10L)
      assert(triangle.nonEmpty, s"shingleK=$k should find dup pairs")
      assert(prefix == triangle,
        s"shingleK=$k: prefix leg diverged from triangle leg: " +
          s"only-triangle=${(triangle -- prefix).take(3)} " +
          s"only-prefix=${(prefix -- triangle).take(3)}")
    }
  }

  test("triangle kernel (prefix-index, r15) ≡ brute force on a random " +
      "shared-vocab corpus at several thresholds") {
    // the r15 kernel replaced the all-pairs loop with a bucket-local
    // SSJoin prefix index; this pins exact-recall + exact-jaccard
    // against a driver-side brute force over a corpus built to stress
    // it: small shared vocabulary (high-df tokens that the rarity
    // order must push OUT of prefixes), variable doc lengths, planted
    // near-dups, and a multi-bucket split (subBlocks > 1 exercises
    // the cross-bucket probe/index sides).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 120).map(i => s"w$i")
    val docs = (0L until 400L).map { i =>
      val len = 3 + rnd.nextInt(18)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // plant true near-dups deterministically: doc i with i%7==1 copies
    // doc i-1's text with one extra token
    val byId = docs.toMap
    val planted = docs.map { case (i, t) =>
      if (i % 7 == 1) (i, byId(i - 1) + " extra" + (i % 5))
      else (i, t)
    }
    val df = planted.toDF("doc_id", "text")
      .withColumn("blk", lit("all"))
    for (th <- Seq(0.3, 0.5, 0.8)) {
      val got = TextOps.jaccardDupPairs(df, col("doc_id"), col("text"),
          col("blk"), th, subBlocks = 4, routeThreshold = 100000L)
        .select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // driver-side brute force over the same normalized word sets
      val sets = planted.map { case (i, t) =>
        i -> t.toLowerCase.trim.split("\\s+").toSet
      }
      val want = (for {
        (i, a) <- sets; (j, b) <- sets if i < j
        common = (a & b).size
        jac = common.toDouble / (a.size + b.size - common)
        if jac >= th
      } yield (i, j, jac)).toSet
      assert(got == want,
        s"threshold $th: kernel=${got.size} brute=${want.size} " +
          s"only-kernel=${(got -- want).take(3)} " +
          s"only-brute=${(want -- got).take(3)}")
      if (th <= 0.5) assert(want.nonEmpty, s"degenerate fixture at $th")
    }
  }

  test("jaccard hybrid routing pairs docs in a NULL block on both legs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", Some("x")),
      (2L, "a b c e", Some("x")),
      (3L, "a b c d", None: Option[String]),
      (4L, "a b c e", None: Option[String]),
      (5L, "p q r s", None: Option[String])
    ).toDF("doc_id", "text", "src")
    def run(route: Long) = TextOps.jaccardDupPairs(df, col("doc_id"),
        col("text"), col("src"), 0.5, routeThreshold = route)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // route=1 pushes EVERY block (incl. the null block) to the prefix
    // leg; the null block must still self-join (struct-wrapped key)
    assert(run(1L) == Set((1L, 2L), (3L, 4L)))
    assert(run(1000L) == Set((1L, 2L), (3L, 4L)))
  }

  test("minhash LSH recall vs exact jaccard on real documents") {
    // unigram shingles (k=1) so the minhash estimates the same word-set
    // jaccard the exact baseline computes; exact threshold 0.9 so every
    // true pair has LSH candidate probability ~1 at 16 bands x 8 rows.
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"), lit("all").as("blk"))
    val exact = TextOps.jaccardDupPairs(docs, col("doc_id"), col("text"),
        col("blk"), 0.9)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val est = TextOps.minHashDupPairs(docs, col("doc_id"), col("text"),
        0.6, k = 1)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-duplicates")
    val recall = exact.count(est.contains).toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall on ${exact.size} pairs")
  }

  test("minhash blocking column: pairs never cross blocks; identical " +
      "docs in the same block are always found (r15)") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f", "x"),
      (2L, "a b c d e f", "x"),   // same block twin: must be found
      (3L, "a b c d e f", "y"),   // cross-block twin of 1/2: never
      (4L, "a b c d e f", "y"),   // same block twin of 3
      (5L, "p q r s t u", "x")
    ).toDF("doc_id", "text", "src")
    val blocked = TextOps.minHashDupPairs(df, col("doc_id"), col("text"),
        0.9, blocking = Some(col("src")))
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == Set((1L, 2L), (3L, 4L)))
    // unblocked finds the cross-block twins too — the blocking really
    // is what removed them
    val open = TextOps.minHashDupPairs(df, col("doc_id"), col("text"),
        0.9)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 3L), (2L, 4L)).subsetOf(open))
    // FromBands slices of one blocked band table agree (the
    // incremental path carries the block key through the join)
    val bt = TextOps.minHashBandTable(df, col("doc_id"), col("text"),
      blocking = Some(col("src")))
    val inc = TextOps.incrementalMinHashDupPairsFromBands(
        bt.filter(col("i") % 2 === 0), bt.filter(col("i") % 2 === 1),
        0.9)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((1L, 2L), (3L, 4L)))
  }

  test("hybrid routing executes BOTH legs in one call: the mixed-leg " +
      "union equals forced-triangle and forced-prefix exactly") {
    // one block above the route threshold (prefix leg) and one below
    // (triangle leg) in the same frame — the production mixed-leg
    // unionByName branch, which no organic fixture block exercised
    // before r14 (r13 verdict ask #5). Texts are near-unique 6-token
    // hash strings; ids with id % 97 == 1 copy id-1's text, planting
    // exact-dup pairs in both blocks.
    val docs = spark.range(5800L).selectExpr(
        "id as doc_id",
        "case when id % 97 = 1 then id - 1 else id end as tk",
        "case when id < 5000 then 'big' else 'small' end as blk")
      .selectExpr("doc_id", "blk",
        "concat_ws(' ', hex(xxhash64(tk, 1)), hex(xxhash64(tk, 2)), " +
          "hex(xxhash64(tk, 3)), hex(xxhash64(tk, 4)), " +
          "hex(xxhash64(tk, 5)), hex(xxhash64(tk, 6))) as text")
    def pairs(route: Long): Set[(Long, Long, Double)] =
      TextOps.jaccardDupPairs(docs, col("doc_id"), col("text"),
          col("blk"), 0.5, routeThreshold = route)
        .select(col("id1"), col("id2"), round(col("jaccard"), 9).as("j"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val routed = pairs(2000L)        // big → prefix, small → triangle
    val allTriangle = pairs(Long.MaxValue)
    val allPrefix = pairs(1L)
    // planted truth: one pair per (i, i+1) with i % 97 == 0, same block
    val expected = (0L until 5800L).count(i => i % 97 == 0 &&
      i + 1 < 5800 && (i < 5000) == (i + 1 < 5000))
    assert(routed.size == expected, s"${routed.size} vs $expected")
    assert(routed.forall(_._3 == 1.0))
    assert(routed == allTriangle, "mixed union != forced triangle")
    assert(routed == allPrefix, "mixed union != forced prefix")
  }

  test("simhash hamming distance is 0 for identical docs") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "a completely different sentence here")).toDF("doc_id", "text")
    val pairs = TextOps.simHashDupPairs(df, col("doc_id"), col("text"), 3)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getAs[Int]("hamming") == 0))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("simHash128 word 0 is bit-for-bit the 64-bit simhash " +
      "(the wide fingerprint extends, never replaces, the narrow one)") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "lorem ipsum dolor sit amet",
      "  Mixed   CASE   and   spacing  ", "single").toDF("text")
    val rows = df.select(TextOps.simHash(col("text")).as("h64"),
      TextOps.simHash128(col("text")).as("h128")).collect()
    rows.foreach { r =>
      val h128 = r.getSeq[Long](1)
      assert(h128.length == 2)
      assert(h128.head == r.getLong(0),
        "simHash128[0] must equal simHash64")
    }
  }

  test("simHashHamming128 counts bits across both words") {
    import spark.implicits._
    val df = Seq((Seq(0x5L, 0x0L), Seq(0x6L, 0x3L))).toDF("a", "b")
    // 0x5^0x6 = 0x3 (2 bits) + 0x0^0x3 (2 bits) = 4
    val d = df.select(TextOps.simHashHamming128(col("a"), col("b")))
      .head.getInt(0)
    assert(d == 4)
  }

  test("simHashDupPairs blocking column keeps identical texts in " +
      "different blocks apart; NULL blocks match each other") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "the quick brown fox", "de"),  // identical text, other block
      (3L, "the quick brown fox", "en"),  // pairs with 1
      (4L, "shared null block text", null.asInstanceOf[String]),
      (5L, "shared null block text", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val pairs = TextOps.simHashDupPairs(df, col("doc_id"), col("text"),
        3, blocking = Some(col("lang")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (4L, 5L)),
      s"blocked pair set wrong: $pairs")
  }

  test("incremental simhash over a persisted band table equals the " +
      "full-batch sweep (with blocking)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta", "en"),   // corpus-internal dup
      (3L, "totally different words here", "en"),
      (11L, "alpha beta gamma delta", "en"),  // new, dups 1 and 2
      (12L, "alpha beta gamma delta", "de"),  // new, other block
      (13L, "totally different words here", "en")) // new, dups 3
      .toDF("doc_id", "text", "lang")
    val corpus = docs.filter(col("doc_id") < 10)
    val batch = docs.filter(col("doc_id") >= 10)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpusBands = TextOps.simHashBandTable(corpus, col("doc_id"),
      col("text"), Some(col("lang")))
    val inc = pairSet(TextOps.incrementalSimHashDupPairs(batch,
      col("doc_id"), col("text"), corpusBands, 3, Some(col("lang"))))
    val oldPairs = pairSet(TextOps.simHashDupPairsFromBands(
      corpusBands, 3))
    val full = pairSet(TextOps.simHashDupPairs(docs, col("doc_id"),
      col("text"), 3, Some(col("lang"))))
    assert((oldPairs ++ inc) == full,
      s"inc ∪ old = ${oldPairs ++ inc} != full $full")
    // the incremental sweep finds cross pairs and batch-internal
    // pairs, never corpus-internal ones
    assert(inc == Set((1L, 11L), (2L, 11L), (3L, 13L)), inc.toString)
  }

  test("cosine column algebra matches hand math") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val r = df.select(SimOps.cosine(col("a"), col("b"))).collect()(0)
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-12) // 1 / (sqrt2 * sqrt2)
  }

  test("LSH recalls planted near-duplicates vs brute force") {
    // The raw test embeddings are near-random (top-1 cosine ~0.3-0.5);
    // hyperplane LSH makes no recall promise there. Its contract is
    // high-similarity recall, so plant near-duplicates (deterministic
    // +-1% perturbation -> cos ~ 0.9999) and require LSH to find them.
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val planted = emb.filter(col("id") < 50)
      .select((col("id") + 10000).as("id"),
        transform(col("vec"), (x, i) =>
          x * (lit(1.0) + (i % 5 - lit(2)) * 0.005)).as("vec"))
    val all = emb.unionByName(planted)
    // exact baseline confirms each planted vector's top-1 is its source
    val exact = SimOps.cosineTopK(all.filter(col("id") >= 10000), all, 1)
      .select("qid", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.forall { case (q, c) => c == q - 10000 })
    val approx = SimOps.lshCosineTopK(all, 1)
      .filter(col("qid") >= 10000)
      .select("qid", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, c) => approx.get(q).contains(c) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.9, s"LSH planted-dup recall $recall over ${exact.size}")
    // dup-pair variant finds the same planted pairs
    val dups = SimOps.cosineDupPairs(all, 0.99)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupRecall = (0L until 50L).count(i =>
      dups.contains((i, i + 10000))).toDouble / 50
    assert(dupRecall >= 0.9, s"cosineDupPairs recall $dupRecall")
  }

  test("IVF recalls planted near-duplicates and spherical kmeans converges") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val planted = emb.filter(col("id") < 50)
      .select((col("id") + 10000).as("id"),
        transform(col("vec"), (x, i) =>
          x * (lit(1.0) + (i % 5 - lit(2)) * 0.005)).as("vec"))
    val all = emb.unionByName(planted)
    // null rows are never neighbors: a null-vec query, a null-id query
    // and a null-vec corpus row drop out and change nothing else
    val nullVec = lit(null).cast("array<double>").as("vec")
    val nullQueries = all.limit(1).select(lit(20000L).as("id"), nullVec)
      .unionByName(all.limit(1).select(lit(null).cast("long").as("id"),
        col("vec")))
    val nullCorpus = all.limit(1).select(lit(20001L).as("id"), nullVec)
    // a near-duplicate pair lands in the same cell unless it straddles a
    // centroid boundary; nProbe=4 of 8 cells must recover ≥90%
    def search(queries: org.apache.spark.sql.DataFrame,
               corpus: org.apache.spark.sql.DataFrame) =
      SimOps.ivfCosineTopK(queries, corpus, 1, nCells = 8, nProbe = 4)
        .select("qid", "cid", "cos").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val approx = search(all.filter(col("id") >= 10000), all)
    val hits = (0L until 50L).count(i =>
      approx.get(i + 10000).map(_._1).contains(i))
    assert(hits >= 45, s"IVF planted-dup recall ${hits / 50.0}")
    assert(search(all.filter(col("id") >= 10000).unionByName(nullQueries),
      all.unionByName(nullCorpus)) == approx)
    // centroids are unit vectors and distinct
    val sample = all.select(col("vec")).limit(500)
      .collect().map(_.getSeq[Double](0).toArray)
    val cents = SimOps.sphericalKMeans(sample, 8, 8)
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
    assert(cents.map(_.toSeq).distinct.length == cents.length)
  }

  test("REAL image decode: JDK ImageIO on a synthetic BMP matches the " +
      "closed-form pixel stats; resize + PNG round-trip; WAV RMS") {
    import spark.implicits._
    val df = Seq(5L).toDF("id")
      .withColumn("img", MultimodalOps.syntheticBmp(col("id")))
    // id=5: w = 8+5%9 = 13, h = 8+15%9 = 14
    val r = df.select(MultimodalOps.decodeImage(col("img")).as("st"))
      .select("st.*").head
    assert(r.getInt(0) == 13 && r.getInt(1) == 14)
    def mean(f: (Int, Int) => Long): Double =
      (for (x <- 0 until 13; y <- 0 until 14) yield f(x, y)).sum /
        (13.0 * 14)
    assert(r.getDouble(2) == mean((x, y) => (5 * 31 + x * 7 + y * 13) % 256))
    assert(r.getDouble(3) == mean((x, y) => (5 * 17 + x * 11 + y * 3) % 256))
    assert(r.getDouble(4) == mean((x, y) => (5 * 5 + x * 3 + y * 29) % 256))
    // meta parser agrees with the real decoder on our own BMP bytes
    val meta = df.select(MultimodalOps.sniffMeta(col("img")).as("m"))
      .select("m.*").head
    assert(meta.getString(0) == "bmp" && meta.getInt(1) == 13 &&
      meta.getInt(2) == 14)
    // nearest-neighbor resize through a lossless PNG round-trip:
    // resized pixel (x,y) = source (x*13/4, y*14/4)
    val rs = df.select(MultimodalOps.decodeImage(
        MultimodalOps.resizeImage(col("img"), 4, 4)).as("st"))
      .select("st.*").head
    assert(rs.getInt(0) == 4 && rs.getInt(1) == 4)
    val exp4 = (for (x <- 0 until 4; y <- 0 until 4)
      yield ((5 * 31 + (x * 13 / 4) * 7 + (y * 14 / 4) * 13) % 256).toLong)
      .sum / 16.0
    assert(rs.getDouble(2) == exp4)
    // WAV: id=5 → n = 64+5 = 69 samples at 8 kHz mono
    val wv = Seq(5L).toDF("id")
      .select(MultimodalOps.wavFeatures(
        MultimodalOps.syntheticWav(col("id"))).as("w"))
      .select("w.*").head
    assert(wv.getInt(0) == 8000 && wv.getInt(1) == 1 &&
      wv.getLong(2) == 69L)
    val rms = math.sqrt((0 until 69)
      .map(j => math.pow(((5 * 7 + j * 3) % 2001) - 1000, 2)).sum / 69.0)
    assert(math.abs(wv.getDouble(4) - rms) < 1e-12)
  }

  test("multimodal media table: schema, meta and feature plumbing") {
    import spark.implicits._
    val df = Seq((1L, "abcdef".getBytes), (2L, "xyz".getBytes))
      .toDF("id", "payload")
    val media = MultimodalOps.mediaTable(df, col("payload"), col("id"))
    val rows = media.orderBy("media_id").collect()
    val metaFields = media.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq
    assert(metaFields ==
      MultimodalOps.mediaMetaSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val m0 = rows(0).getStruct(rows(0).fieldIndex("meta"))
    assert(m0.getAs[Long]("n_bytes") == 6L)
    // raw text bytes carry no container magic → honest "bin", no dims
    assert(m0.getAs[String]("format") == "bin")
    assert(m0.isNullAt(m0.fieldIndex("width")))
    val feats = rows(0).getSeq[Float](rows(0).fieldIndex("features"))
    assert(feats.length == 8)
    assert(math.abs(feats.sum - 1.0f) < 1e-6) // normalized histogram
    // resize keeps contract size
    val resized = media.select(
      MultimodalOps.resizeStub(col("features"), 4).as("r"))
      .collect()(0).getSeq[Float](0)
    assert(resized.length == 4)
    // REAL keyframe sampling: a synthetic AVI with keyframes at
    // f ≡ 0 (mod 3) yields only those frames, decoded for real
    val frames = spark.range(6, 7)
      .select(graft.multimodal.AviOps.sampleKeyframes(
        graft.multimodal.AviOps.syntheticAvi(col("id")), 2).as("f"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    // id=6 → nf=3+6%5=4 frames, keyframes {0, 3} → both sampled
    assert(frames.map(_.getInt(0)).toSeq == Seq(0, 3))
    assert(frames.forall(_.getBoolean(1)))
  }

  test("cosineThresholdJoin matches the Column-algebra cosine pairs") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(d => math.sin(i * 0.7 + d * 1.3)))
    }.toDF("id", "vec")
    val fused = SimOps.cosineThresholdJoin(vecs, vecs, 0.5)
      .filter(col("qid") < col("cid"))
      .select(col("qid"), col("cid"), round(col("cos"), 9).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val l = vecs.select(col("id").as("qid"), col("vec").as("v1"))
    val r = vecs.select(col("id").as("cid"), col("vec").as("v2"))
    val algebra = l.join(r, col("qid") < col("cid"))
      .select(col("qid"), col("cid"),
        round(SimOps.cosine(col("v1"), col("v2")), 9).as("cos"))
      .filter(col("cos") >= 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .toSet
    assert(fused.nonEmpty && fused == algebra)
    // cap fails loud
    val e = intercept[IllegalArgumentException] {
      SimOps.cosineThresholdJoin(vecs, vecs, 0.5, queryCap = 10)
    }
    assert(e.getMessage.contains("queryCap"))
  }

  test("vector searches fail loudly on a vector of the wrong length") {
    import spark.implicits._
    val vecs = (0 until 12).map(i =>
      (i.toLong, Seq(1.0 + i, 2.0, 0.5 * i))).toDF("id", "vec")
    val longRow = Seq((99L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "vec")
    val q = vecs.filter(col("id") < 3)
    def fails(op: String)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      assert(e.getMessage.contains(s"$op: ") &&
        e.getMessage.contains("has length 4, expected 3"), e.getMessage)
    }
    // a corpus row one element longer than the queries
    val corpus = vecs.unionByName(longRow)
    fails("cosineTopK")(SimOps.cosineTopK(q, corpus, 2).collect())
    fails("cosineThresholdJoin")(
      SimOps.cosineThresholdJoin(q, corpus, 0.5).collect())
    fails("ivfCosineTopK")(
      SimOps.ivfCosineTopK(q, corpus, 2, nCells = 2).collect())
    // a query longer than the index's or the codebooks' dimension
    fails("ivfCosineTopK")(SimOps.ivfCosineTopK(q.unionByName(longRow),
      vecs, 2, nCells = 2).collect())
    val cb = graft.sim.PqOps.trainPq(vecs, m = 1, ksub = 4)
    fails("pqCosineTopK")(graft.sim.PqOps.pqCosineTopK(
      q.unionByName(longRow), graft.sim.PqOps.pqEncode(vecs, cb), cb, 2)
      .collect())
  }

  test("vector searches never return a null-element or zero-norm " +
      "neighbor, as SimOps.cosine is null for them") {
    import spark.implicits._
    val q = Seq((0L, Seq[java.lang.Double](1.0, 0.0))).toDF("id", "vec")
    // one partition: every row meets the same per-partition heap
    val corpus = Seq(
        (1L, Seq[java.lang.Double](1.0, null)),
        (2L, Seq[java.lang.Double](0.6, 0.8)),
        (3L, Seq[java.lang.Double](0.0, 0.0)))
      .toDF("id", "vec").repartition(1)
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(col("cid"), round(col("cos"), 9)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val only = Seq((2L, 0.6))
    assert(hits(SimOps.cosineTopK(q, corpus, 3)) == only)
    assert(hits(SimOps.cosineThresholdJoin(q, corpus, -1.0)) == only)
    assert(hits(SimOps.ivfCosineTopK(q, corpus, 3, nCells = 1,
      nProbe = 1)) == only)
    assert(hits(graft.sim.ProjectOps.jlCosineTopK(q, corpus, 3, inDim = 2,
      jlDim = 2)) == only)
    // the same rows as queries have no neighbors at all
    assert(hits(SimOps.cosineTopK(corpus.filter(col("id") =!= 2L),
      corpus.unionByName(q), 3)).isEmpty)
  }

  test("header sniffing parses real container layouts") {
    import MultimodalOps.{parseMeta, MediaMeta}
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG 3×2 (planted IHDR dims)
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      bytes(0, 0, 0, 3, 0, 0, 0, 2, 8, 6, 0, 0, 0)
    assert(parseMeta(png) == MediaMeta("png", Some(3), Some(2), 29L))
    // JPEG with an APP0 segment BEFORE the SOF0 (segment scan must skip)
    val jpeg = bytes(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0 len 4
      0xff, 0xc0, 0x00, 0x0b, 8, 0x01, 0x00, 0x02, 0x80, 1, 1, 0x11, 0,
      0xff, 0xd9)
    assert(parseMeta(jpeg) == MediaMeta("jpeg", Some(640), Some(256),
      jpeg.length.toLong))
    // GIF 100×50 little-endian
    val gif = "GIF89a".getBytes ++ bytes(100, 0, 50, 0, 0, 0, 0)
    assert(parseMeta(gif) == MediaMeta("gif", Some(100), Some(50), 13L))
    // WebP VP8X 256×17 (stored minus-one, 24-bit LE)
    val vp8x = "RIFF".getBytes ++ bytes(22, 0, 0, 0) ++
      "WEBPVP8X".getBytes ++ bytes(10, 0, 0, 0, 0, 0, 0, 0) ++
      bytes(0xff, 0, 0) ++ bytes(16, 0, 0)
    assert(parseMeta(vp8x) == MediaMeta("webp", Some(256), Some(17), 30L))
    // WebP lossy VP8 with the 9D 01 2A sync code, 320×240
    val vp8 = "RIFF".getBytes ++ bytes(24, 0, 0, 0) ++
      "WEBPVP8 ".getBytes ++ bytes(12, 0, 0, 0, 0, 0, 0) ++
      bytes(0x9d, 0x01, 0x2a, 64, 1, 240, 0)
    assert(parseMeta(vp8) == MediaMeta("webp", Some(320), Some(240),
      vp8.length.toLong))
    // WebP lossless VP8L, 2×3: bits = (w-1) | (h-1)<<14
    val bitsWH = 1 | (2 << 14)
    val vp8l = "RIFF".getBytes ++ bytes(17, 0, 0, 0) ++
      "WEBPVP8L".getBytes ++ bytes(5, 0, 0, 0, 0x2f,
        bitsWH & 0xff, (bitsWH >> 8) & 0xff, (bitsWH >> 16) & 0xff,
        (bitsWH >> 24) & 0xff)
    assert(parseMeta(vp8l) == MediaMeta("webp", Some(2), Some(3),
      vp8l.length.toLong))
    // WAV: format recognized, dimensionless
    val wav = "RIFF".getBytes ++ bytes(4, 0, 0, 0) ++ "WAVE".getBytes
    assert(parseMeta(wav) == MediaMeta("wav", None, None, 12L))
    // BMP 7×9 (BITMAPINFOHEADER offsets)
    val bmp = "BM".getBytes ++ new Array[Byte](16) ++
      bytes(7, 0, 0, 0, 9, 0, 0, 0)
    assert(parseMeta(bmp) == MediaMeta("bmp", Some(7), Some(9), 26L))
    // garbage and truncated magic stay honest
    assert(parseMeta("hello world".getBytes).format == "bin")
    assert(parseMeta(bytes(0x89, 'P')).format == "bin")
    assert(parseMeta(Array.emptyByteArray) ==
      MediaMeta("bin", None, None, 0L))
    // the synthetic fixture round-trips through the parser
    val spark2 = spark
    import spark2.implicits._
    val fix = Seq(0L, 1L, 2L, 3L, 100L, 101L, 102L, 103L).toDF("id")
      .select(col("id"),
        MultimodalOps.sniffMeta(MultimodalOps.syntheticPayload(col("id")))
          .as("m"))
      .collect()
    fix.foreach { r =>
      val id = r.getLong(0)
      val m = r.getStruct(1)
      val wantFmt = Seq("png", "jpeg", "gif", "webp")((id % 4).toInt)
      assert(m.getAs[String]("format") == wantFmt, s"id $id")
      assert(m.getAs[Int]("width") == 16 + id % 512, s"id $id width")
      assert(m.getAs[Int]("height") == 16 + (id * 7) % 512, s"id $id height")
    }
  }

  test("persisted IVF index + cell-partitioned corpus reproduces " +
      "in-memory IVF search exactly") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_spec"
    val idx = SimOps.buildIvfIndex(emb)
    SimOps.saveIvfIndex(idx, spark, s"$root/index")
    val loaded = SimOps.loadIvfIndex(spark, s"$root/index")
    assert(loaded.nCells == idx.nCells && loaded.dim == idx.dim)
    assert(loaded.centroids.flatten.toSeq == idx.centroids.flatten.toSeq)
    SimOps.writeIvfPartitioned(emb, loaded, s"$root/corpus")
    val queries = emb.filter(col("id") < 50)
    val fromDisk = SimOps.ivfCosineTopKIndexed(
        queries, s"$root/corpus", loaded, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .toSet
    val inMem = SimOps.ivfCosineTopK(queries, emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .toSet
    assert(fromDisk == inMem && inMem.nonEmpty)
    // and the at-rest layout prunes: the scan of the partitioned
    // corpus must carry a cell partition filter
    val probedPlan = spark.read.parquet(s"$root/corpus")
      .filter(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(probedPlan.contains("PartitionFilters"), probedPlan)
  }

  test("appendIvfPartitioned ≡ full rewrite: frozen centroids make " +
      "the incremental ANN corpus search-identical (r15)") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append_spec"
    val idx = SimOps.buildIvfIndex(emb)
    // corpus = even ids; two appended daily batches split the odd ids
    SimOps.writeIvfPartitioned(emb.filter(col("id") % 2 === 0), idx,
      s"$root/corpus")
    SimOps.appendIvfPartitioned(emb.filter(col("id") % 4 === 1), idx,
      s"$root/corpus")
    SimOps.appendIvfPartitioned(emb.filter(col("id") % 4 === 3), idx,
      s"$root/corpus")
    SimOps.writeIvfPartitioned(emb, idx, s"$root/rewrite")
    val q = emb.filter(col("id") < 60)
    def res(path: String) = SimOps.ivfCosineTopKIndexed(
        q, path, idx, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val inc = res(s"$root/corpus")
    val rw = res(s"$root/rewrite")
    assert(inc == rw && inc.nonEmpty)
  }

  test("IVF training and cell writes skip null-element vectors, as " +
      "every search does") {
    import spark.implicits._
    val clean = (1 to 40).map(i => (i.toLong,
      Seq[java.lang.Double](math.cos(i * 0.7), math.sin(i * 0.7))))
    def nullRow(id: Long) = (id, Seq[java.lang.Double](1.0, null))
    val withNull = (nullRow(0L) +: clean).toDF("id", "vec")
    def cents(idx: SimOps.IvfIndex) = idx.centroids.map(_.toSeq).toSeq
    val idx = SimOps.buildIvfIndex(withNull, nCells = 4)
    assert(cents(idx) ==
      cents(SimOps.buildIvfIndex(clean.toDF("id", "vec"), nCells = 4)))
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_ivf_null_spec"
    SimOps.writeIvfPartitioned(withNull, idx, root)
    SimOps.appendIvfPartitioned(Seq(nullRow(100L)).toDF("id", "vec"), idx,
      root)
    val written = spark.read.parquet(root).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(written == (1L to 40L))
  }

  test("decodeBatch (mapPartitions) matches the scalar decode UDF") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .limit(50)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val viaUdf = docs
      .select(col("doc_id"),
        MultimodalOps.decodeStub(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val viaBatch = MultimodalOps.decodeBatch(
        docs.as[(Long, Array[Byte])]).collect().toMap
    assert(viaBatch.keySet == viaUdf.keySet && viaBatch.nonEmpty)
    viaBatch.foreach { case (id, f) => assert(f == viaUdf(id), s"id $id") }
    // null payload stays null on BOTH paths (undecodable ≠ zero histogram)
    val withNull = Seq((1L, "ab".getBytes), (2L, null: Array[Byte]))
      .toDS()
    val batched = MultimodalOps.decodeBatch(withNull).collect().toMap
    assert(batched(2L) == null && batched(1L) != null)
  }

  test("wordNgrams: blank text yields no grams even at n=1") {
    import spark.implicits._
    val r = Seq("   ", "", "one two").toDF("t")
      .select(TextOps.wordNgrams(col("t"), 1).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(r(0).isEmpty && r(1).isEmpty && r(2) == Seq("one", "two"))
  }

  test("semanticDupPairs: single-cell path equals brute-force pairs; " +
    "planted near-identical twins survive clustering") {
    import spark.implicits._
    // 3 well-separated direction clusters + planted twins inside each:
    // vector i and i+100 are nearly identical (cos ≈ 1)
    def v(base: Seq[Double], eps: Double): Seq[Double] =
      base.zipWithIndex.map { case (x, k) => x + eps * (k % 3 - 1) * 0.01 }
    val bases = Seq(Seq(5.0, 0.0, 0.0, 1.0), Seq(0.0, 5.0, 0.0, -1.0),
      Seq(0.0, 0.0, 5.0, 0.5))
    val rows = (0 until 30).map { i =>
      (i.toLong, v(bases(i % 3), (i / 3).toDouble))
    } ++ (0 until 30).map { i =>
      ((i + 100).toLong, v(bases(i % 3), (i / 3).toDouble + 0.001))
    }
    val df = rows.toDF("id", "vec")
    val exact = SimOps.semanticDupPairs(df, col("id"), col("vec"), 0.999,
      nCells = 1).collect()
    // brute-force twin check: each (i, i+100) pair must be present
    val pairSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 30).foreach { i =>
      assert(pairSet.contains((i.toLong, (i + 100).toLong)),
        s"missing twin pair $i")
    }
    // clustered path: near-identical twins always share a cell (their
    // cosine to every centroid is nearly equal), so recall on the
    // planted pairs is total even with hard assignment
    val cells = SimOps.semanticDupPairs(df, col("id"), col("vec"), 0.999,
      nCells = 3).collect()
    val cellSet = cells.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 30).foreach { i =>
      assert(cellSet.contains((i.toLong, (i + 100).toLong)))
    }
    assert(cellSet.subsetOf(pairSet)) // never invents a pair
  }

  test("semanticDupPairs in-cell quadratic cap fails LOUD on a skewed " +
    "cell instead of silently going quadratic") {
    import spark.implicits._
    // every vector identical → k-means puts them all in ONE cell, and
    // subBlocks=1 keeps them in one bucket of 40 > bucketCap=10
    val df = (0 until 40).map(i => (i.toLong, Seq(1.0, 0.0, 0.0)))
      .toDF("id", "vec")
    val ex = intercept[org.apache.spark.SparkException] {
      SimOps.semanticDupPairs(df, col("id"), col("vec"), 0.9,
        nCells = 2, subBlocks = 1, bucketCap = 10).count()
    }
    val msg = Option(ex.getCause).map(_.getMessage)
      .getOrElse(ex.getMessage)
    assert(msg != null && msg.contains("exceeds bucketCap"),
      s"expected the loud cap message, got: $msg")
    // the documented remedies actually work: more sub-blocks bring
    // every bucket back under the cap on the same skewed data
    val n = SimOps.semanticDupPairs(df, col("id"), col("vec"), 0.9,
      nCells = 2, subBlocks = 8, bucketCap = 25).count()
    assert(n == 40L * 39 / 2) // all-identical → every pair found once
  }

  test("semanticDedup keeps the minimum id of each duplicate group and " +
    "passes unclustered rows through") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 1e-6, 0.0)),
      (7L, Seq(1.0, -1e-6, 1e-6)), // {1,2,7} one dup group → keep 1
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 1.0, 1e-6)), // {3,4} → 3
      (9L, Seq(0.0, 0.0, 1.0)) // alone → survives
    ).toDF("id", "vec")
    val kept = SimOps.semanticDedup(df, col("id"), col("vec"), 0.9999,
        nCells = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 9L))
  }

  test("incremental minhash dedup equals the full-batch run and " +
    "finds planted cross-batch near-dups") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 2 === 0)
    val nw = docs.filter(col("doc_id") % 2 === 1)
    // the band table MUST be built with the same (k, numHashes, bands)
    // as the incremental probe — unigram shingles here, matching the
    // recall test above
    val bandTab1 = TextOps.minHashBandTable(old, col("doc_id"),
      col("text"), k = 1)
    val incNewDf = TextOps.incrementalMinHashDupPairs(nw,
      col("doc_id"), col("text"), bandTab1, 0.6, k = 1)
    val inc1 = incNewDf.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldPairs = TextOps.minHashDupPairs(old, col("doc_id"),
        col("text"), 0.6, k = 1)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = TextOps.minHashDupPairs(docs, col("doc_id"),
        col("text"), 0.6, k = 1)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    assert((oldPairs ++ inc1) == full,
      s"incremental union must equal full batch: " +
        s"missing=${full -- (oldPairs ++ inc1)} " +
        s"extra=${(oldPairs ++ inc1) -- full}")
    // a planted cross-batch twin (identical text, old id 1000 even /
    // new id 1001 odd) must be found by the incremental probe
    val twinOld = Seq((1000L, "planted twin doc alpha beta gamma"))
      .toDF("doc_id", "text")
    val twinNew = Seq((1001L, "planted twin doc alpha beta gamma"))
      .toDF("doc_id", "text")
    val bt = TextOps.minHashBandTable(old.union(twinOld),
      col("doc_id"), col("text"))
    val found = TextOps.incrementalMinHashDupPairs(
        nw.union(twinNew), col("doc_id"), col("text"), bt, 0.6)
      .filter(col("id1") === 1000L && col("id2") === 1001L).count()
    assert(found == 1L)
    assert(incNewDf.columns.toSeq ==
      Seq("id1", "id2", "est_jaccard")) // stable output contract
    // a corpus band slice without band 0 (a band-partitioned store
    // read with a band filter) must fail loudly: its signatures are
    // fetched from band 0, and the corpus pairs must not vanish
    val probeText = "one probe text shared by all three documents"
    val probeCorpus = TextOps.minHashBandTable(
      Seq((1L, probeText)).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val probeNew = TextOps.minHashBandTable(
      Seq((101L, probeText), (102L, probeText)).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    def probe(corpus: org.apache.spark.sql.DataFrame) =
      TextOps.incrementalMinHashDupPairsFromBands(probeNew, corpus, 0.6)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(probeCorpus) == Set((1L, 101L), (1L, 102L), (101L, 102L)))
    def failsOnBand0(run: => Any): Unit = {
      val ex = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(msgs.exists(_.contains("missing band 0")),
        s"expected the band-0 message, got: ${ex.getMessage}")
    }
    failsOnBand0(probe(probeCorpus.filter(col("b") =!= 0)))
    failsOnBand0(TextOps.minHashDupPairsFromBands(
      probeCorpus.union(probeNew).filter(col("b") =!= 0), 0.6).collect())
  }
}
