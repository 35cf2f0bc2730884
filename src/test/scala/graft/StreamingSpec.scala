package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("dynamicGroupByAgg buckets rows into tumbling windows") {
    import spark.implicits._
    val df = Seq(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "a", 1.0),
      (Timestamp.valueOf("2026-01-01 10:55:00"), "a", 3.0),
      (Timestamp.valueOf("2026-01-01 11:05:00"), "a", 5.0),
      (Timestamp.valueOf("2026-01-01 10:30:00"), "b", 7.0))
      .toDF("t", "k", "v")
    val out = StreamOps.dynamicGroupByAgg(df, col("t"), "1 hour",
        Seq(col("k")), Seq(avg(col("v")).as("avg_v")))
      .orderBy("k", "window_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Double]("avg_v") == 2.0) // a @ 10:00
    assert(out(1).getAs[Double]("avg_v") == 5.0) // a @ 11:00
    assert(out(2).getAs[Double]("avg_v") == 7.0) // b @ 10:00
  }

  test("the same windowed agg runs incrementally under a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "k", "v"), col("t"), "10 minutes", "event_time")
    val agg = StreamOps.streamingWindowedAgg(streamed, "1 hour",
      Seq(col("k")), Seq(sum(col("v")).as("sum_v")))
    val q = agg.writeStream.format("memory").queryName("graft_stream_test")
      .outputMode("update").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:05:00"), "a", 1.0),
        (Timestamp.valueOf("2026-01-01 10:20:00"), "a", 2.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2026-01-01 10:40:00"), "a", 4.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT max(sum_v) FROM graft_stream_test").head
      // update mode: the latest emission for the 10:00 window holds the
      // full incremental sum 1+2+4
      assert(rows.getDouble(0) == 7.0)
    } finally q.stop()
  }

  test("windowed HLL distinct runs incrementally (mergeable sketch state)") {
    // approx_count_distinct's HLL partials merge associatively, so it
    // composes with stateful streaming aggregation — the per-window
    // distinct-user count a 100 TB event stream needs without keeping
    // the user set in state. At this cardinality HLL is exact.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "user"), col("t"), "10 minutes", "event_time")
    val agg = StreamOps.streamingWindowedAgg(streamed, "1 hour", Nil,
      Seq(approx_count_distinct(col("user")).as("n_users")))
    val q = agg.writeStream.format("memory").queryName("graft_hll_stream")
      .outputMode("update").start()
    try {
      mem.addData((1 to 40).map(i =>
        (Timestamp.valueOf("2026-01-01 10:05:00"), (i % 20).toLong)): _*)
      q.processAllAvailable()
      mem.addData((1 to 30).map(i =>
        (Timestamp.valueOf("2026-01-01 10:40:00"), (i % 30).toLong)): _*)
      q.processAllAvailable()
      // latest update for the 10:00 window: distinct of {0..19}∪{0..29}
      val n = spark.sql(
        "SELECT max(n_users) FROM graft_hll_stream").head.getLong(0)
      assert(n == 30L, s"windowed distinct merged wrong: $n")
    } finally q.stop()
  }

  test("streamingExactDedup drops repeated docs across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "text"), col("t"), "1 hour", "event_time")
    val deduped = StreamOps.streamingExactDedup(streamed, col("text"))
    val q = deduped.writeStream.format("memory")
      .queryName("graft_dedup_test").outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "Hello  World"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), "hello world"),
        (Timestamp.valueOf("2026-01-01 10:02:00"), "other doc"))
      q.processAllAvailable()
      // duplicate arriving in a LATER micro-batch is still dropped
      mem.addData((Timestamp.valueOf("2026-01-01 10:03:00"), "HELLO WORLD"))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM graft_dedup_test")
        .head.getLong(0)
      assert(n == 2L) // normalized "hello world" once + "other doc"
    } finally q.stop()
  }

  test("streamingSimhashDupPairs finds near-dups across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pick 128-bit signatures so the pair differs in 2 bits: flip bit
    // 20 of w0 (band 0 = w0 lo32 differs) and bit 40 of w1 (band 3 =
    // w1 hi32 differs) → bands 1 (w0 hi32) and 2 (w1 lo32) identical
    // → bucket match, hamming 2 over the 128 bits
    val w0 = 0x0123456789abcdefL
    val w1 = 0x0fedcba987654321L
    val far = (3L, ~w0, ~w1) // ~128 bits away
    val mem = MemoryStream[(Long, Long, Long)]
    val pairs = StreamOps.streamingSimhashDupPairs(mem.toDS(), maxDist = 3)
    val q = pairs.toDF("id1", "id2", "hamming").writeStream
      .format("memory").queryName("graft_simdup_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, w0, w1), far)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM graft_simdup_test")
        .head.getLong(0) == 0L) // nothing near yet
      // near-dup of doc 1 arrives in a LATER micro-batch
      mem.addData((2L, w0 ^ (1L << 20), w1 ^ (1L << 40)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT DISTINCT id1, id2, hamming FROM graft_simdup_test")
        .collect()
      assert(got.length == 1)
      assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L &&
        got(0).getInt(2) == 2)
    } finally q.stop()
  }

  test("streamingIncrementalMinHashDupPairs: corpus + cross-batch " +
      "pairs match the batch incremental op over the full stream") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again with many more words to shingle"
    def doc(i: Long, extra: String) = (i, s"$base $extra")
    // corpus: docs 1-2 (1 is a near-dup magnet); stream: 10-13 where
    // 10 ~ corpus doc 1, and 12 ~ 13 across DIFFERENT micro-batches
    val corpusDocs = Seq(doc(1L, "alpha"), doc(2L, "totally different " +
      "content about spark partitions and shuffles and joins"))
      .toDF("doc_id", "text")
    val corpusBands = TextOps.minHashBandTable(corpusDocs,
      col("doc_id"), col("text")).cache()
    corpusBands.count()
    val b1 = Seq(doc(10L, "alpha beta"), doc(11L, "unrelated payload " +
      "entirely: parquet footers bloom filters and row groups"))
    val b2 = Seq(doc(12L, "gamma delta"), doc(13L, "gamma delta epsilon"))
    val b3 = Seq(doc(14L, "gamma delta")) // dup of 12 two batches later
    val mem = MemoryStream[(Long, String)]
    val pairs = StreamOps.streamingIncrementalMinHashDupPairs(
      mem.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      corpusBands, threshold = 0.6)
    val q = pairs.writeStream.format("memory")
      .queryName("graft_incmh_test").outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("SELECT DISTINCT id1, id2, " +
          "round(est_jaccard, 9) AS est FROM graft_incmh_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch ground truth over the SAME stream contents
      val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
      val want = TextOps.incrementalMinHashDupPairs(all, col("doc_id"),
          col("text"), corpusBands, threshold = 0.6)
        .select(col("id1"), col("id2"),
          round(col("est_jaccard"), 9).as("est"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.nonEmpty, "fixture produced no batch pairs")
      assert(want.exists(p => p._1 == 1L && p._2 == 10L),
        s"corpus pair missing from batch ground truth: $want")
      assert(want.exists(p => p._1 == 12L),
        s"cross-batch stream pair missing from ground truth: $want")
      assert(got == want,
        s"streaming vs batch:\n only-stream=${got -- want}\n " +
          s"only-batch=${want -- got}")
    } finally { q.stop(); corpusBands.unpersist() }
  }

  test("streamingIncrementalMinHashDupPairs honours blocking: a blocked " +
      "corpus + stream match the blocked batch op, no pair crosses a " +
      "block") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again with many more words to shingle"
    def doc(i: Long, extra: String, src: String) = (i, s"$base $extra", src)
    // near-dups inside blocks (1~10 in a, 2~11 in b, 12~15 in a across
    // batches, 13~14 in the NULL block) and across them (1~11, 10~11,
    // 2~10, 12~13 …)
    val corpusDocs = Seq(doc(1L, "alpha", "a"), doc(2L, "alpha", "b"),
        (3L, "parquet footers bloom filters and row groups", "a"))
      .toDF("doc_id", "text", "source")
    val blocking = Some(col("source"))
    val corpusBands = TextOps.minHashBandTable(corpusDocs, col("doc_id"),
      col("text"), blocking = blocking).cache()
    corpusBands.count()
    val b1 = Seq(doc(10L, "alpha beta", "a"), doc(11L, "alpha beta", "b"))
    val b2 = Seq(doc(12L, "gamma delta", "a"), doc(13L, "gamma delta", null))
    val b3 = Seq(doc(14L, "gamma delta", null), doc(15L, "gamma delta", "a"))
    val mem = MemoryStream[(Long, String, String)]
    val pairs = StreamOps.streamingIncrementalMinHashDupPairs(
      mem.toDS().toDF("doc_id", "text", "source"), col("doc_id"),
      col("text"), corpusBands, threshold = 0.6, blocking = blocking)
    val q = pairs.writeStream.format("memory")
      .queryName("graft_incmh_block_test").outputMode("append").start()
    def idPairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id1"), col("id2"), round(col("est_jaccard"), 9))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = idPairs(spark.sql(
        "SELECT DISTINCT id1, id2, est_jaccard FROM graft_incmh_block_test"))
      val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text", "source")
      def batch(blk: Option[org.apache.spark.sql.Column]) =
        idPairs(TextOps.incrementalMinHashDupPairs(all, col("doc_id"),
          col("text"), TextOps.minHashBandTable(corpusDocs, col("doc_id"),
            col("text"), blocking = blk), threshold = 0.6, blocking = blk))
      val want = batch(blocking)
      val ids = want.map(p => (p._1, p._2))
      Seq((1L, 10L), (2L, 11L), (12L, 15L), (13L, 14L)).foreach(p =>
        assert(ids.contains(p), s"$p missing from the batch pairs: $want"))
      // the fixture does plant cross-block near-dups
      val unblocked = batch(None).map(p => (p._1, p._2))
      assert(Seq((1L, 11L), (10L, 11L), (12L, 13L)).forall(unblocked),
        s"cross-block near-dups missing unblocked: $unblocked")
      assert(got == want,
        s"streaming vs batch:\n only-stream=${got -- want}\n " +
          s"only-batch=${want -- got}")
      val src = (corpusDocs.collect().map(r =>
          (r.getLong(0), Option(r.getString(2)))) ++
        (b1 ++ b2 ++ b3).map(d => (d._1, Option(d._3)))).toMap
      assert(got.forall(p => src(p._1) == src(p._2)),
        s"a streamed pair crosses blocks: $got")
    } finally { q.stop(); corpusBands.unpersist() }
  }

  test("streamingExactDedup state survives a checkpoint stop/restart " +
    "(a duplicate of a pre-restart doc is still dropped)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_dedup").toString
    val mem = MemoryStream[(Timestamp, String)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "text"), col("t"), "1 hour", "event_time")
    val deduped = StreamOps.streamingExactDedup(streamed, col("text"))
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    def start() = deduped.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("text")).collect()
          .foreach(r => seen.add(r.getString(0)))
      }
      .start()
    val q1 = start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "Hello  World"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), "other doc"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.size == 2)
    // NEW query, SAME checkpoint: the dedup state store must recover —
    // the normalized duplicate of "Hello  World" is still dropped
    val q2 = start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:02:00"), "HELLO WORLD"),
        (Timestamp.valueOf("2026-01-01 10:03:00"), "brand new doc"))
      q2.processAllAvailable()
    } finally q2.stop()
    val texts = seen.toArray.map(_.toString).toSet
    assert(seen.size == 3, s"state lost across restart: $texts")
    assert(texts.contains("brand new doc") && !texts.exists(
      _.toLowerCase.startsWith("hello world")))
  }

  test("streamingSimhashDupPairs band-bucket state survives a " +
    "checkpoint stop/restart (near-dup of a pre-restart doc pairs up)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_simdup").toString
    // 2 bits apart over the 128: bands 1 (w0 hi32) / 2 (w1 lo32) equal
    val w0 = 0x0123456789abcdefL
    val w1 = 0x0fedcba987654321L
    val mem = MemoryStream[(Long, Long, Long)]
    val pairs = StreamOps.streamingSimhashDupPairs(mem.toDS(), maxDist = 3)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Int)]())
    def start() = pairs.toDF("id1", "id2", "hamming").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.add((r.getLong(0), r.getLong(1), r.getInt(2))))
      }
      .start()
    val q1 = start()
    try {
      mem.addData((1L, w0, w1), (3L, ~w0, ~w1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(got.isEmpty) // nothing near yet
    val q2 = start()
    try {
      mem.addData((2L, w0 ^ (1L << 20), w1 ^ (1L << 40)))
      q2.processAllAvailable()
    } finally q2.stop()
    val distinct = got.toArray.map(_.asInstanceOf[(Long, Long, Int)]).toSet
    assert(distinct == Set((1L, 2L, 2)),
      s"band state lost across restart: $distinct")
  }

  test("streamingIncrementalMinHashDupPairs bucket state survives a " +
      "checkpoint stop/restart (near-dup of a pre-restart doc pairs up)") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_incmh").toString
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again with many more words to shingle"
    // empty corpus: this test isolates the cross-restart STREAM state
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val corpusBands = TextOps.minHashBandTable(corpus, col("doc_id"),
      col("text"))
    val mem = MemoryStream[(Long, String)]
    val pairs = StreamOps.streamingIncrementalMinHashDupPairs(
      mem.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      corpusBands, threshold = 0.6)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long)]())
    def start() = pairs.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
      }
      .start()
    val q1 = start()
    try {
      mem.addData((10L, s"$base alpha"),
        (11L, "unrelated entirely: parquet footers and bloom filters"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(got.isEmpty, s"nothing near yet: $got")
    val q2 = start()
    try {
      mem.addData((12L, s"$base alpha beta")) // near-dup of 10
      q2.processAllAvailable()
    } finally q2.stop()
    val distinct = got.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    assert(distinct == Set((10L, 12L)),
      s"bucket state lost across restart: $distinct")
  }

  test("sessionize assigns gap-based sessions; streaming twin merges " +
      "session windows across batches") {
    import spark.implicits._
    import graft.streaming.SessionOps
    // batch: user 1 has events at 0s, 10s, 100s with a 30s gap → two
    // sessions; user 2 one session
    val base = 1700000000000000000L // nanos
    val df = Seq(
      (1L, base), (1L, base + 10L * 1000000000L),
      (1L, base + 100L * 1000000000L),
      (2L, base + 5L * 1000000000L))
      .toDF("user_id", "tn")
    val sess = SessionOps.sessionStats(df, Seq(col("user_id")),
        col("tn"), 30L * 1000000000L)
      .orderBy("user_id", "session_id").collect()
    assert(sess.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == Seq(
        (1L, 1L, 2L, 10000000L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))

    // streaming: two events 5 min apart in DIFFERENT micro-batches
    // merge into ONE session window (gap 10 min)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "k", "v"), col("t"), "10 minutes", "event_time")
    val agg = SessionOps.streamingSessionAgg(streamed, "10 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n")))
    // session windows support append mode only: a session is emitted
    // once the watermark passes its close
    val q = agg.writeStream.format("memory")
      .queryName("graft_session_test").outputMode("append").start()
    try {
      mem.addData((Timestamp.valueOf("2026-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2026-01-01 10:05:00"), "a", 2.0))
      q.processAllAvailable()
      // advance the watermark far past both sessions' close
      mem.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "a", 3.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "a", 4.0))
      q.processAllAvailable()
      val merged = spark.sql(
        "SELECT max(n) FROM graft_session_test").head.getLong(0)
      assert(merged == 2L) // 10:00 + 10:05 merged into one session
    } finally q.stop()
  }

  test("streamingCleanCorpus matches the batch pipeline across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val streamed = StreamOps.withEventTime(
      mem.toDF().toDF("t", "doc_id", "text"), col("t"), "1 hour")
    val cleaned = StreamOps.streamingCleanCorpus(streamed, col("text"))
    val q = cleaned.writeStream.format("memory").queryName("graft_clean")
      .outputMode("append").start()
    try {
      val ts = Timestamp.valueOf("2026-01-01 10:00:00")
      // batch 2 re-sends half of batch 1 (cross-batch duplicates) plus
      // the rest of the corpus
      mem.addData(docs.take(120).map(d => (ts, d._1, d._2)): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(60).map(d => (ts, d._1, d._2)): _*)
      q.processAllAvailable()
      val streamFps = spark.sql("SELECT text FROM graft_clean")
        .select(graft.text.TextOps.fingerprint64(col("text")).as("fp"))
        .collect().map(_.getLong(0))
      // exactly once per surviving text, despite the re-sends
      assert(streamFps.length == streamFps.toSet.size)
      val batchFps = StreamOps.streamingCleanCorpus(
          docs.toSeq.toDF("doc_id", "text"), col("text"))
        .select(graft.text.TextOps.fingerprint64(col("text")).as("fp"))
        .collect().map(_.getLong(0)).toSet
      assert(streamFps.toSet == batchFps && batchFps.nonEmpty)
    } finally q.stop()
  }

  test("streamingCurationGate is row-for-row identical to the batch " +
    "application (stateless gates)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // page-shaped docs: half pass the gates, some carry mojibake that
    // the gate must repair before the rules run
    val stop = "the data and results have merit to be good with that"
    def page(i: Long): String = {
      val body = (s"$stop item $i line one ends here. " * 6).trim
      val moji = if (i % 3 == 0) " cafÃ© corner." else ""
      if (i % 2 == 0) s"$body$moji\nGood closing sentence here$i."
      else "too short"
    }
    val docs = (0L until 60L).map(i => (i, page(i)))
    val mem = MemoryStream[(Long, String)]
    val gated = StreamOps.streamingCurationGate(
      mem.toDF().toDF("doc_id", "text"), col("text"),
      minWords = 30, minStopwords = 2)
    val q = gated.writeStream.format("memory").queryName("graft_gate")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(30): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(30): _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, clean_text FROM graft_gate")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = StreamOps.streamingCurationGate(
          docs.toDF("doc_id", "text"), col("text"),
          minWords = 30, minStopwords = 2)
        .select("doc_id", "clean_text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty, "some pages must survive the gate")
      assert(batch.size < docs.size, "some pages must be rejected")
      // mojibake was repaired before the rules ran
      assert(batch.exists(_._2.contains("café")))
      assert(!batch.exists(_._2.contains("cafÃ©")))
    } finally q.stop()
  }

  test("streamingOnlineLR matches the batch OnlineLR across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // y = 2x1 - 3x2 + noiseless bias 0.5 via bias feature
    def row(i: Int): (String, Long, Seq[Double], Double) = {
      val x1 = (i % 7).toDouble; val x2 = (i % 5).toDouble
      ("k", i.toLong, Seq(x1, x2, 1.0), 2.0 * x1 - 3.0 * x2 + 0.5)
    }
    val mem = MemoryStream[(String, Long, Seq[Double], Double)]
    val out = StreamOps.streamingOnlineLR(mem.toDS(), d = 3)
    val q = out.writeStream.format("memory").queryName("graft_olr")
      .outputMode("update").start()
    try {
      mem.addData((0 until 20).map(row): _*)
      q.processAllAvailable()
      mem.addData((20 until 40).map(row): _*)
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT beta, n FROM graft_olr ORDER BY n DESC LIMIT 1").head
      assert(last.getLong(1) == 40L)
      val got = last.getSeq[Double](0)
      val ref = new graft.linear.OnlineLR(3)
      (0 until 40).map(row).foreach { case (_, _, x, y) =>
        ref.update(x.toArray, y) }
      got.zip(ref.beta).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"$got vs ${ref.beta.toSeq}") }
      // and it converged to the generating coefficients
      assert(math.abs(got(0) - 2.0) < 1e-3 &&
        math.abs(got(1) + 3.0) < 1e-3 && math.abs(got(2) - 0.5) < 1e-2)
    } finally q.stop()
  }

  test("streamingRollingLR matches the batch rolling fit across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def u(i: Int, salt: Int): Double = {
      var h = i.toLong * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31); h *= 0x94D049BB133111EBL; h ^= (h >>> 29)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
    def row(i: Int): (String, Long, Seq[Double], Double) = {
      val x1 = u(i, 1); val x2 = u(i, 2)
      ("k", i.toLong, Seq(x1, x2), 0.7 * x1 - 0.2 * x2 + u(i, 3) / 100.0)
    }
    // x2 = 2·x1 + 1e-13·noise: every window is collinear, which the
    // batch fit's relative pivot gate (1e-12·max|Aᵢᵢ|) turns into null
    // coefficients. (At 1e-9 noise the bias column keeps the pivots
    // near 1e-9, above that floor, and neither path gates.)
    def collinearRow(i: Int): (String, Long, Seq[Double], Double) = {
      val x1 = u(i, 1); val x2 = 2.0 * x1 + 1e-13 * (u(i, 2) - 0.5)
      ("k", i.toLong, Seq(x1, x2), 0.7 * x1 - 0.2 * x2 + u(i, 3) / 100.0)
    }
    val window = 9
    for ((name, mk) <- Seq("graft_rlr" -> row _,
        "graft_rlr_collinear" -> collinearRow _)) {
      val mem = MemoryStream[(String, Long, Seq[Double], Double)]
      val out = StreamOps.streamingRollingLR(mem.toDS(), d = 2,
        window = window)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        mem.addData((0 until 4).map(mk): _*)
        q.processAllAvailable()
        // window not yet full → null coeffs
        val early = spark.sql(s"SELECT beta FROM $name LIMIT 1").head
        assert(early.isNullAt(0))
        mem.addData((4 until 25).map(mk): _*)
        q.processAllAvailable()
        // the last emission: the stream's fit of the last full window
        val last = spark.sql(s"SELECT beta FROM $name").collect().last
        val got = Option(last.getSeq[Double](0))
        // batch twin over the same 25 rows, last full window
        val df = (0 until 25).map { i =>
          val r = mk(i); (r._2, r._3(0), r._3(1), r._4)
        }.toDF("o", "x1", "x2", "y").withColumn("g", lit("k"))
        val want = Option(graft.ops.LinRegOps.rollingLinReg(df,
            Seq(col("x1"), col("x2")), col("y"), col("o"), Seq("g"), window)
          .orderBy(col("o").desc).limit(1)
          .select("coeffs").head.getSeq[Double](0))
        assert(got.isDefined == want.isDefined, s"$name: $got vs $want")
        if (name == "graft_rlr") assert(got.isDefined, name)
        else assert(want.isEmpty, s"$name: the batch fit is not gated")
        got.zip(want).foreach { case (g, w) =>
          g.zip(w).foreach { case (a, b) =>
            assert(math.abs(a - b) < 1e-9, s"$name: $g vs $w") }
        }
      } finally q.stop()
    }
  }

  test("streamingRunningStats maintains Welford state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val stats = StreamOps.streamingRunningStats(mem.toDS())
    val q = stats.writeStream.format("memory")
      .queryName("graft_stats_test").outputMode("update").start()
    try {
      mem.addData(("a", 1.0), ("a", 3.0), ("b", 10.0))
      q.processAllAvailable()
      mem.addData(("a", 5.0))
      q.processAllAvailable()
      // update mode: take the latest emission per key
      val a = spark.sql(
        """SELECT n, mean, m2, min, max FROM graft_stats_test
          |WHERE key = 'a' ORDER BY n DESC LIMIT 1""".stripMargin).head
      assert(a.getLong(0) == 3L)
      assert(math.abs(a.getDouble(1) - 3.0) < 1e-12)
      assert(math.abs(a.getDouble(2) / 2 - 4.0) < 1e-12) // var = 4
      assert(a.getDouble(3) == 1.0 && a.getDouble(4) == 5.0)
    } finally q.stop()
  }

  test("nanosToTimestamp converts the testdata nanos encoding") {
    import spark.implicits._
    // 2026-01-01 00:00:00 UTC = 1767225600 s
    val nanos = 1767225600L * 1000000000L + 123456000L
    val ts = Seq(nanos).toDF("ts")
      .select(StreamOps.nanosToTimestamp(col("ts"))).head.getTimestamp(0)
    assert(ts.toInstant.getEpochSecond == 1767225600L)
  }

  test("compiled LM scorer matches the distributed path bit-for-bit " +
    "and applies statelessly to a stream") {
    import spark.implicits._
    import graft.text.LmOps
    val docs = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on a log"), (3L, "zq")).toDF("doc_id", "text")
    val lm = LmOps.compileLm(docs, col("text"))
    val score = LmOps.scoreWithLm(spark, lm)
    val compiled = docs.withColumn("s", score(col("text")))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.n_ngrams").as("n_ngrams"),
        col("s.cross_entropy").as("ce"))
      .orderBy("doc_id").collect()
    val dist = LmOps.ngramLmScore(docs, col("text"), docs,
      col("doc_id"), col("text")).orderBy("doc_id").collect()
    assert(compiled.length == dist.length && compiled.length == 2)
    compiled.zip(dist).foreach { case (c, d) =>
      assert(c.getAs[Long]("doc_id") == d.getAs[Long]("doc_id"))
      assert(c.getAs[Long]("n_ngrams") == d.getAs[Long]("n_ngrams"))
      assert(math.abs(c.getAs[Double]("ce") -
        d.getAs[Double]("cross_entropy")) < 1e-12)
    }
    // same scorer on a stream: stateless, no watermark, no shuffle
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "the cat sat on the mat"),
      (9L, "unseen words entirely here"))
    val sq = mem.toDF.toDF("doc_id", "text")
      .withColumn("s", score(col("text")))
      .writeStream.format("memory").queryName("lm_scored")
      .outputMode("append").start()
    sq.processAllAvailable(); sq.stop()
    val st = spark.sql(
      "select doc_id, s.ppl from lm_scored order by doc_id").collect()
    assert(st.length == 2)
    assert(st(0).getDouble(1) < st(1).getDouble(1),
      "in-distribution doc must score lower perplexity than OOV doc")
  }

  test("streamingCusum matches the batch reflection-identity op " +
      "across a multi-batch split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map(i =>
      ("k" + (i % 2), i.toLong, (rnd.nextInt(31) - 5).toDouble))
    val (target, slack, h) = (10.0, 1.0, 12.0)
    val mem = MemoryStream[(String, Long, Double)]
    val out = StreamOps.streamingCusum(mem.toDS(), target, slack, h)
    val q = out.writeStream.format("memory")
      .queryName("graft_cusum_test").outputMode("update").start()
    try {
      // three micro-batches, order keys batch-monotone per key
      mem.addData(rows.slice(0, 40): _*); q.processAllAvailable()
      mem.addData(rows.slice(40, 90): _*); q.processAllAvailable()
      mem.addData(rows.slice(90, 120): _*); q.processAllAvailable()
      // latest state per key (update mode appends each batch's rows)
      val st = spark.sql(
        """SELECT key, nAlarmsUp, nAlarmsDown, firstAlarmOrder,
          |  maxSUp, maxSDn FROM graft_cusum_test a
          |WHERE n = (SELECT max(n) FROM graft_cusum_test b
          |           WHERE b.key = a.key)""".stripMargin)
        .collect().map(r => r.getString(0) -> r).toMap
      val batch = graft.ops.TSOps2.cusum(rows.toDF("k", "o", "x"),
          col("x"), col("o"), Seq("k"), target, slack, h)
        .collect().map(r => r.getString(0) -> r).toMap
      for (k <- Seq("k0", "k1")) {
        val (s, b) = (st(k), batch(k))
        assert(s.getLong(1) == b.getAs[Long]("n_alarms_up"), s"$k up")
        assert(s.getLong(2) == b.getAs[Long]("n_alarms_down"),
          s"$k down")
        val bFirst = Option(b.getAs[Any]("first_alarm_order"))
          .map(_.asInstanceOf[Long])
        val sFirst =
          if (s.isNullAt(3)) None else Some(s.getLong(3))
        assert(sFirst == bFirst, s"$k first")
        assert(math.abs(s.getDouble(4) -
          b.getAs[Double]("max_s_up")) < 1e-9, s"$k maxUp")
        assert(math.abs(s.getDouble(5) -
          b.getAs[Double]("max_s_down")) < 1e-9, s"$k maxDn")
      }
    } finally q.stop()
  }
}
