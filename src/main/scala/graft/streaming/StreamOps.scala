package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.text.{BandJoin, TextOps}

/** Time-bucketed and streaming aggregation (SURVEY §1 last row: the
  * reference's only temporal surface is `Blueprint.group_by_dynamic_agg`
  * — pipeline.py:930 — a tumbling-window batch aggregation; its
  * "streaming" engine is out-of-core batching, which plain distributed
  * execution already subsumes).
  *
  * [[dynamicGroupByAgg]] is the batch form (works on any DataFrame);
  * the SAME plan shape runs under Structured Streaming: feed a
  * `readStream` source through [[withEventTime]] →
  * [[streamingWindowedAgg]] → `writeStream`, and Spark maintains the
  * windows incrementally with watermark-based state eviction. That is
  * the genuinely streaming upgrade the reference cannot express —
  * covered by StreamingSpec with a MemoryStream.
  */
object StreamOps {

  /** Tumbling-window aggregation over an event-time column
    * (pipeline.py:930 group_by_dynamic_agg → Spark `window()`).
    * `eventTime` must be a TimestampType column; aggs are any Column
    * aggregates. Emits window_start/window_end + keys + aggs. */
  def dynamicGroupByAgg(df: DataFrame, eventTime: Column,
                        windowDuration: String, keys: Seq[Column],
                        aggs: Seq[Column]): DataFrame =
    df.groupBy((window(eventTime, windowDuration) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Convert a TIMESTAMP(NANOS)-as-long column to a real timestamp.
    * Uses integral division (`div`) so the nanos→micros conversion stays
    * in exact long arithmetic: `c / 1000L` would round-trip through
    * double, and epoch nanos (~1.7e18) exceed double's 2^53
    * exact-integer range. */
  def nanosToTimestamp(c: Column): Column =
    timestamp_micros(call_function("div", c, lit(1000L)))

  /** Normalize an event-time column of ANY supported physical encoding
    * to exact epoch-nanos longs: TIMESTAMP / TIMESTAMP_NTZ (micro
    * precision — ntz is reinterpreted in the session zone, which
    * GraftSession pins to UTC) scale by 1000 in long space; an
    * already-numeric column (e.g. TIMESTAMP(NANOS) parquet read as long
    * via nanosAsLong) passes through. Keeps every operator that does
    * long gap/span arithmetic working across testdata generations that
    * flipped between nanos-as-long and timestamp[us]. */
  def eventTimeNanos(df: DataFrame, c: Column): Column = {
    import org.apache.spark.sql.types._
    df.select(c).schema.head.dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(c.cast(TimestampType)) * lit(1000L)
      case LongType | IntegerType => c.cast("long")
      case dt => throw new IllegalArgumentException(
        s"eventTimeNanos: unsupported event-time type $dt")
    }
  }

  /** Attach event time + watermark to a (possibly streaming) frame. */
  def withEventTime(df: DataFrame, eventTime: Column,
                    watermark: String, out: String = "event_time")
      : DataFrame =
    df.withColumn(out, eventTime).withWatermark(out, watermark)

  /** Watermarked tumbling-window aggregate — the streaming twin of
    * [[dynamicGroupByAgg]]; on a streaming frame Spark plans this as
    * incremental stateful aggregation with late-data handling. */
  def streamingWindowedAgg(df: DataFrame, windowDuration: String,
                           keys: Seq[Column], aggs: Seq[Column],
                           eventTimeCol: String = "event_time")
      : DataFrame =
    df.groupBy((window(col(eventTimeCol), windowDuration) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming twin of `TextOps.exactDedup`: drop documents whose
    * normalized-text fingerprint was already seen, with state bounded
    * by the watermark (`dropDuplicatesWithinWatermark` evicts
    * fingerprints older than the watermark delay — without the bound,
    * dedup state over an unbounded 100 TB stream grows forever). The
    * input must already carry an `event_time` watermark
    * ([[withEventTime]]). Works identically on a batch frame (where it
    * degrades to plain dropDuplicates semantics). */
  def streamingExactDedup(df: DataFrame, text: Column,
                          fpCol: String = "__fp"): DataFrame = {
    val withFp = df.withColumn(fpCol, TextOps.fingerprint64(text))
    (if (withFp.isStreaming) withFp.dropDuplicatesWithinWatermark(fpCol)
     else withFp.dropDuplicates(fpCol)).drop(fpCol)
  }

  /** Streaming twin of the q_clean_corpus pipeline: predicted-language
    * filter → quality gate → exact dedup. The two gates are stateless
    * Column predicates (they fuse into the scan of each micro-batch);
    * dedup is the only stateful stage, bounded by the input's
    * watermark. Same code path runs a batch frame (dedup degrades to
    * dropDuplicates), so backfill and live ingest share one
    * definition — the lambda-architecture collapse Structured
    * Streaming exists for. */
  def streamingCleanCorpus(df: DataFrame, text: Column,
                           lang: String = "en",
                           minQuality: Double = 0.5): DataFrame =
    streamingExactDedup(
      df.filter(TextOps.langId(text) === lang)
        .withColumn("__q", TextOps.qualityFeatures(text))
        .filter(col("__q.quality") >= minQuality)
        .drop("__q"),
      text)

  /** Streaming curation gate: mojibake repair → Gopher rules → C4
    * line cleaning + page rejection, emitting the repaired + cleaned
    * text as `clean_text`. Every stage is a row-local Column
    * expression with no state, so the SAME definition runs batch
    * backfill and live ingest and the outputs are identical row-for-
    * row (StreamingSpec pins the parity). Compose with
    * [[streamingExactDedup]] downstream for the stateful stage of the
    * funnel. */
  def streamingCurationGate(df: DataFrame, text: Column,
                            minWords: Int = 50, minStopwords: Int = 2,
                            badWords: Seq[String] = Nil): DataFrame = {
    import graft.text.{EncodingOps, FilterRules}
    df.withColumn("__fixed", EncodingOps.fixMojibake(text))
      .withColumn("__g", FilterRules.gopherRules(col("__fixed"),
        minWords = minWords, minStopwords = minStopwords))
      .withColumn("__c", FilterRules.c4Rules(col("__fixed"),
        badWords = badWords))
      .filter(col("__g.pass") && col("__c.keep"))
      .withColumn("clean_text", col("__c.cleaned"))
      .drop("__fixed", "__g", "__c")
  }

  /** State of one (b, h, blk) band bucket across micro-batches: the ids
    * and fingerprints of its newest documents, newest first, at most
    * the operator's `maxPerBucket`. A SimHash fingerprint is its two
    * words (w0, w1); a MinHash fingerprint is its signature.
    *
    * CHECKPOINT COMPATIBILITY: this one state class and its (b, h, blk)
    * group key replace the per-family bucket states of earlier
    * revisions, which were keyed on the band alone. A streaming query
    * resumed from an older checkpoint fails state deserialization:
    * discard old checkpoints and restart the query from its source
    * (the framework is pre-release; no migration path is provided). */
  case class BucketState(ids: Seq[Long], fps: Seq[Seq[Long]])

  /** A stream's band row as [[bucketPairs]] reads it. */
  private[streaming] case class BandRow(i: Long, fp: Seq[Long])

  /** The one streaming band-bucket loop of the dedup twins. `bands`
    * holds one row per (document, band): (b, h, blk) keys the bucket
    * (a struct key, so NULL blocks match each other), `i` is the long
    * id and `fp` the fingerprint. Each arriving row is scored against
    * every other id in its bucket's state by `score`, which returns
    * the pair's score or None to reject it; accepted pairs come out as
    * (id1, id2, score) with id1 < id2, once per shared bucket. The row
    * then joins the state, which keeps the newest `maxPerBucket`, so
    * state is O(buckets × maxPerBucket × fingerprint) whatever the
    * stream's length. */
  private def bucketPairs[S](bands: DataFrame, maxPerBucket: Int)
                            (score: (Seq[Long], Seq[Long]) => Option[S])
                            (implicit encS: Encoder[S])
      : Dataset[(Long, Long, S)] = {
    val key = Seq(col("b"), col("h"), col("blk"))
    implicit val encState = Encoders.product[BucketState]
    implicit val encOut = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, encS)
    bands.groupBy(key: _*)
      .as[Row, BandRow](Encoders.row(bands.select(key: _*).schema),
        Encoders.product[BandRow])
      .flatMapGroupsWithState[BucketState, (Long, Long, S)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Row, rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          var ids = state.getOption.fold(List.empty[Long])(_.ids.toList)
          var fps =
            state.getOption.fold(List.empty[Seq[Long]])(_.fps.toList)
          val out = List.newBuilder[(Long, Long, S)]
          rows.foreach { r =>
            ids.iterator.zip(fps.iterator).foreach { case (oid, ofp) =>
              if (oid != r.i) score(r.fp, ofp).foreach(s =>
                out += ((math.min(r.i, oid), math.max(r.i, oid), s)))
            }
            ids = (r.i :: ids).take(maxPerBucket)
            fps = (r.fp :: fps).take(maxPerBucket)
          }
          state.update(BucketState(ids, fps))
          out.result().iterator
      }
  }

  /** Streaming twin of `TextOps.simHashDupPairs`: emit near-duplicate
    * candidate pairs (id1, id2, hamming) as documents arrive. Input
    * rows are (id, w0, w1) — the two words of `TextOps.simHash128` (a
    * native expression; runs fine under streaming:
    * `element_at(sh, 1)` / `element_at(sh, 2)`). They are banded by
    * the batch op's own 4×32-bit banding (`TextOps.simHashBands`) and
    * paired in [[bucketPairs]] state.
    *
    * Same pigeonhole guarantee as the batch op: a pair within
    * `maxDist` ≤ 3 bits (over the full 128) shares at least one of
    * the 4 bands, so it is emitted by that band's bucket (possibly by
    * several — collapse downstream with `dropDuplicatesWithinWatermark`
    * or `distinct`). Recall against documents older than a bucket's
    * eviction horizon degrades gracefully — the streaming analogue of
    * the watermark bound on `streamingExactDedup`. Works identically
    * on a batch Dataset (state starts empty per run). */
  def streamingSimhashDupPairs(docs: Dataset[(Long, Long, Long)],
                               maxDist: Int,
                               maxPerBucket: Int = 10000)
      : Dataset[(Long, Long, Int)] = {
    val fps = docs.toDF("i", "w0", "w1").select(col("i"),
      BandJoin.blockKey(None), col("w0"), col("w1"))
    bucketPairs(TextOps.simHashBands(fps)
        .withColumn("fp", array(col("w0"), col("w1"))), maxPerBucket) {
      (a, o) =>
        val d = java.lang.Long.bitCount(a(0) ^ o(0)) +
          java.lang.Long.bitCount(a(1) ^ o(1))
        if (d <= maxDist) Some(d) else None
    }(Encoders.scalaInt)
  }

  /** Streaming twin of `TextOps.incrementalMinHashDupPairs`: emit
    * near-duplicate pairs of a document STREAM against (a) a persisted
    * corpus band table and (b) the stream's own history — the daily-
    * snapshot dedup loop made continuous. Returns (id1, id2,
    * est_jaccard), id1 < id2.
    *
    * Plan shape: the stream is signed and banded once per micro-batch
    * (row-local), then
    *   1. new-vs-CORPUS: `BandJoin.corpusLeg`, a stream-STATIC
    *      equijoin on (b, h, blk) against the corpus table's narrow
    *      (i, blk, b, h) rows — the corpus is never re-signed and its
    *      signatures never ride the join. The stream rows carry their
    *      own signature; each corpus signature is fetched by a
    *      stream-static left join on the corpus's band-0 rows, which
    *      fails loud on a corpus slice without band 0 (the batch
    *      sweep's guard);
    *   2. new-vs-NEW across micro-batches: [[bucketPairs]] state per
    *      (b, h, blk) bucket.
    *
    * `blocking` is the batch op's: pass the same expression the
    * corpus table was signed with, and pairs never cross blocks. As
    * with the batch op, a pair colliding in several bands is emitted
    * once per band — collapse downstream with `distinct` (batch
    * replay) or `dropDuplicatesWithinWatermark`. Document ids must be
    * distinct across corpus and stream and long-castable.
    * StreamingSpec pins cross-batch parity: corpus pairs ∪ stream
    * pairs over any micro-batch split equals the batch
    * `incrementalMinHashDupPairs` over the full stream contents. */
  def streamingIncrementalMinHashDupPairs(
      newDocs: DataFrame, id: Column, text: Column,
      corpusBands: DataFrame, threshold: Double, k: Int = 3,
      numHashes: Int = 128, bands: Int = 16,
      maxPerBucket: Int = 10000,
      blocking: Option[Column] = None): DataFrame = {
    val nb = TextOps.minHashBandTable(newDocs, id.cast("long"), text, k,
      numHashes, bands, blocking)
    val corpus = corpusBands.withColumn("i", col("i").cast("long"))
    val vsCorpus = TextOps.fetchSig(
        BandJoin.corpusLeg(nb, BandJoin.keys(corpus),
          col("r.i").as("__ci"), col("l.sig").as("__sn")),
        "__ci", TextOps.band0Sigs(corpus), "__sc")
      .select(col("id1"), col("id2"),
        TextOps.estJaccard(col("__sn"), col("__sc")))
      .filter(col("est_jaccard") >= threshold)
    val within = bucketPairs(nb.withColumnRenamed("sig", "fp"),
        maxPerBucket) { (a, o) =>
      val est = TextOps.agreement(a, o)
      if (est >= threshold) Some(est) else None
    }(Encoders.scalaDouble)
    vsCorpus.unionByName(within.toDF("id1", "id2", "est_jaccard"))
  }

  /** Per-key running statistics state: Welford mean/M2 plus min/max. */
  case class RunningStats(key: String, n: Long, mean: Double, m2: Double,
                          min: Double, max: Double) {
    def variance: Double = if (n < 2) 0.0 else m2 / (n - 1)
  }

  /** Custom streaming state via mapGroupsWithState (SURVEY §2.15's
    * construct for stateful kernels Spark's windowed aggs can't
    * express): per-key online mean/variance/min/max maintained with
    * Welford updates — the streaming counterpart of the reference's
    * OnlineLR-style incremental models. Emits the updated state per
    * key per micro-batch; state size is O(keys), independent of stream
    * length. `values` pairs are (key, value). Use with
    * `writeStream.outputMode(Update)`. */
  def streamingRunningStats(values: Dataset[(String, Double)])
      : Dataset[RunningStats] = {
    implicit val enc = Encoders.product[RunningStats]
    values.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[RunningStats, RunningStats](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[RunningStats]) =>
          var s = state.getOption.getOrElse(
            RunningStats(key, 0L, 0.0, 0.0,
              Double.PositiveInfinity, Double.NegativeInfinity))
          rows.foreach { case (_, x) =>
            val n1 = s.n + 1
            val d = x - s.mean
            val mean1 = s.mean + d / n1
            val m21 = s.m2 + d * (x - mean1)
            s = RunningStats(key, n1, mean1, m21,
              math.min(s.min, x), math.max(s.max, x))
          }
          state.update(s)
          s
      }
  }

  /** Per-key CUSUM control state: both one-sided statistics plus the
    * alarm tallies the batch op reports. */
  case class CusumState(key: String, n: Long, sUp: Double, sDn: Double,
                        nAlarmsUp: Long, nAlarmsDown: Long,
                        firstAlarmOrder: Option[Long],
                        maxSUp: Double, maxSDn: Double)

  /** Streaming twin of [[graft.ops.TSOps2.cusum]]: Page's recursion
    * run literally per key inside mapGroupsWithState — O(1) state per
    * key, the natural streaming form of the same statistic the batch
    * op computes via the reflection identity. Rows are
    * (key, order, x), applied in ascending `order` within each
    * micro-batch (the cross-batch contract is the usual streaming-twin
    * one: order keys arrive batch-monotonically, like the rolling-LR
    * twin). Emits the updated per-key state each batch; use
    * outputMode(Update). StreamingSpec pins exact parity with the
    * batch op across a multi-batch split. */
  def streamingCusum(rows: Dataset[(String, Long, Double)],
                     target: Double, slack: Double, h: Double)
      : Dataset[CusumState] = {
    require(h > 0, "streamingCusum: alarm threshold h must be > 0")
    implicit val enc = Encoders.product[CusumState]
    rows.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[CusumState, CusumState](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Double)],
         state: GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(
            CusumState(key, 0L, 0.0, 0.0, 0L, 0L, None, 0.0, 0.0))
          it.toSeq.sortBy(_._2).foreach { case (_, o, x) =>
            val su = math.max(0.0, s.sUp + (x - target - slack))
            val sd = math.max(0.0, s.sDn - (x - target + slack))
            s = CusumState(key, s.n + 1, su, sd,
              s.nAlarmsUp + (if (su > h) 1L else 0L),
              s.nAlarmsDown + (if (sd > h) 1L else 0L),
              s.firstAlarmOrder.orElse(
                if (su > h || sd > h) Some(o) else None),
              math.max(s.maxSUp, su), math.max(s.maxSDn, sd))
          }
          state.update(s)
          s
      }
  }

  /** Per-key online least-squares state: inverse-Gram P (flattened
    * d×d), coefficients, observation count. */
  case class OnlineLRState(key: String, n: Long, p: Seq[Double],
                           beta: Seq[Double])

  /** Per-key rolling-window regression state: the last `window` rows'
    * flattened features + targets (a ring buffer in arrival order). */
  case class RollingLRState(key: String, xs: Seq[Double], ys: Seq[Double])

  /** Streaming rolling-regression emission: key, rows seen in the
    * current window, coefficients (null until the window fills). */
  case class RollingLROut(key: String, n: Long, beta: Seq[Double])

  /** Streaming fixed-window rolling regression — the streaming twin of
    * [[graft.ops.LinRegOps.rollingLinReg]] (reference pl_rolling_lr):
    * each key holds a ring buffer of its last `window` rows inside
    * mapGroupsWithState (O(window·d) state per key — the minimum any
    * rolling fit needs, since old rows must be retired exactly) and
    * emits the coefficients of the CURRENT window each micro-batch
    * (null until the window fills, bias last like the batch twin).
    * Each window is solved by the batch twin's own
    * [[graft.ops.LinRegOps.rollingSolve]], so a collinear window comes
    * back null on both. Rows are (key, order, features, y), applied in
    * `order` within a batch; use outputMode(Update). */
  def streamingRollingLR(rows: Dataset[(String, Long, Seq[Double], Double)],
                         d: Int, window: Int, lambda: Double = 0.0,
                         addBias: Boolean = true)
      : Dataset[RollingLROut] = {
    implicit val stateEnc = Encoders.product[RollingLRState]
    implicit val outEnc = Encoders.product[RollingLROut]
    val dTot = d + (if (addBias) 1 else 0)
    rows.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[RollingLRState,
        RollingLROut](GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Seq[Double], Double)],
         state: GroupState[RollingLRState]) =>
          val s0 = state.getOption
            .getOrElse(RollingLRState(key, Seq.empty, Seq.empty))
          var xs = s0.xs.toVector
          var ys = s0.ys.toVector
          it.toSeq.sortBy(_._2).foreach { case (_, o, x, y) =>
            // fail loud: a wrong-length vector would shift every later
            // row in the flat ring buffer and corrupt the key forever
            require(x != null && x.length == d,
              s"streamingRollingLR key=$key order=$o: feature vector " +
                s"of length ${if (x == null) "null" else x.length}, " +
                s"expected $d")
            xs = (xs ++ x).takeRight(window * d)
            ys = (ys :+ y).takeRight(window)
          }
          state.update(RollingLRState(key, xs, ys))
          val n = ys.length
          val beta: Seq[Double] =
            if (n < window) null
            else {
              // solve the window's normal equations from scratch —
              // window·d² work per key per batch, no accumulated drift
              val a = Array.ofDim[Double](dTot, dTot + 1)
              var r = 0
              while (r < n) {
                val xb = new Array[Double](dTot)
                var j = 0
                while (j < d) { xb(j) = xs(r * d + j); j += 1 }
                if (addBias) xb(d) = 1.0
                var i = 0
                while (i < dTot) {
                  var k = 0
                  while (k < dTot) { a(i)(k) += xb(i) * xb(k); k += 1 }
                  a(i)(dTot) += xb(i) * ys(r)
                  i += 1
                }
                r += 1
              }
              var i = 0
              while (i < dTot) { a(i)(i) += lambda; i += 1 }
              graft.ops.LinRegOps.rollingSolve(a)
            }
          RollingLROut(key, n.toLong, beta)
      }
  }


  /** Streaming online linear regression — the streaming twin of
    * [[graft.linear.OnlineLR]] (reference linear_models.py:553):
    * per-key Woodbury rank-1 updates inside mapGroupsWithState, so
    * coefficients refresh every micro-batch with O(d²) state per key
    * and zero re-scans of history. Rows are (key, order, features, y);
    * each batch's rows apply in `order` (cross-batch order is stream
    * arrival — the same contract as any online model). Emits the
    * updated per-key state each batch; use outputMode(Update). */
  def streamingOnlineLR(rows: Dataset[(String, Long, Seq[Double], Double)],
                        d: Int, lambda: Double = 1e-6)
      : Dataset[OnlineLRState] = {
    implicit val enc = Encoders.product[OnlineLRState]
    rows.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[OnlineLRState, OnlineLRState](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Seq[Double], Double)],
         state: GroupState[OnlineLRState]) =>
          val s0 = state.getOption.getOrElse(OnlineLRState(key, 0L,
            Seq.tabulate(d * d)(i =>
              if (i % d == i / d) 1.0 / lambda else 0.0),
            Seq.fill(d)(0.0)))
          val p = s0.p.toArray
          val beta = s0.beta.toArray
          var n = s0.n
          it.toSeq.sortBy(_._2).foreach { case (_, _, xs, y) =>
            val x = xs.toArray
            val px = Array.tabulate(d)(i =>
              (0 until d).map(j => p(i * d + j) * x(j)).sum)
            val denom = 1.0 + (0 until d).map(i => x(i) * px(i)).sum
            val err = y - (0 until d).map(i => x(i) * beta(i)).sum
            var i = 0
            while (i < d) {
              beta(i) += px(i) * err / denom
              var j = 0
              while (j < d) {
                p(i * d + j) -= px(i) * px(j) / denom; j += 1
              }
              i += 1
            }
            n += 1
          }
          val s1 = OnlineLRState(key, n, p.toSeq, beta.toSeq)
          state.update(s1)
          s1
      }
  }
}
