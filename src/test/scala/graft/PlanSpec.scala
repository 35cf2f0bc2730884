package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts for the properties that decide 100 TB
  * behavior — checked continuously, not just eyeballed once:
  *
  *  - filters and column pruning must reach the parquet scan
  *    (PushedFilters / ReadSchema),
  *  - aggregations must have a map-side partial phase,
  *  - the per-group coefficient join in prediction queries must
  *    broadcast (never shuffle the fact table),
  *  - global top-k must plan as TakeOrderedAndProject (per-partition
  *    top-k + driver merge), never a single-partition global sort.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("4").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("filter and projection push down to the parquet scan") {
    val plan = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag") === "A")
      .select(col("l_quantity"), col("l_extendedprice"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)]"),
      plan)
    // the scan must read exactly the 3 referenced columns, not all 16
    val schemaLine = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(schemaLine.contains("l_quantity") &&
      schemaLine.contains("l_returnflag") &&
      !schemaLine.contains("l_orderkey"), schemaLine)
  }

  test("ORC roundtrip scan pushes filters and prunes columns") {
    // the q_orc_roundtrip contract: the read-back side must behave like
    // a first-class columnar source — predicate to the ORC reader,
    // ReadSchema limited to referenced columns
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_orc_spec"
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
      .write.mode("overwrite").option("compression", "zlib").orc(root)
    val q = spark.read.orc(root).filter(col("doc_id") < 100)
      .select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"),
      plan)
    val schemaLine = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(schemaLine.contains("doc_id") && !schemaLine.contains("text"),
      schemaLine)
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100).count()
    assert(q.count() == expected && expected > 0)
  }

  test("woeContinuous default path stays in codegen (no RDD hop, " +
      "two scans); the exact variant is the one that pays the sort") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("y", (col("value") > 50).cast("int"))
    val plan = graft.ops.EncodeOps
      .woeContinuous(ev, col("value"), col("y"), 10)
      .queryExecution.executedPlan.toString
    // breakpoint binning = when-chain over a scan: no zipWithIndex RDD
    // scan, no global Sort in the plan
    assert(!plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("Sort "), plan)
    val exact = graft.ops.EncodeOps
      .woeContinuousExact(ev, col("value"), col("y"), col("event_id"), 10)
      .queryExecution.executedPlan.toString
    assert(exact.contains("ExistingRDD"), exact) // documented trade-off
  }

  test("EDA reports batch every column into a fixed number of jobs " +
      "(numericProfile 2, nullCorr/inferReport 1)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("v2", when(col("user_id") % 3 === 0, col("value")))
    def countJobs(body: => Unit): Int = {
      // count via a listener, NOT statusTracker retained-job ids: the
      // status store evicts old jobs past spark.ui.retainedJobs, so in
      // a long suite the retained count can DROP mid-test and the
      // before/after delta goes negative (observed: -97)
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // events deliver asynchronously — poll to stability
        var last = counter.get()
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val cur = counter.get()
          if (cur == last) stable += 1 else { last = cur; stable = 0 }
        }
        last
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // the contract: job count is FIXED in the column count (every
    // column batches into the same agg passes), so tripling the
    // columns must not add a single job. (AQE may split one query
    // into several jobs, which is why absolute counts aren't pinned.)
    val ev6 = ev.withColumn("v3", col("value") * 2)
      .withColumn("v4", col("user_id") + 1).withColumn("v5", col("value"))
    def profile(d: org.apache.spark.sql.DataFrame, cs: Seq[String]) =
      graft.eda.EdaOps.numericProfile(d, cs, histogram = true)
    val p2 = countJobs { profile(ev, Seq("value", "user_id")) }
    val p6 = countJobs { profile(ev6,
      Seq("value", "v2", "user_id", "v3", "v4", "v5")) }
    assert(p6 <= p2, s"numericProfile: $p2 jobs for 2 cols but $p6 for 6")
    val n2 = countJobs { graft.eda.EdaOps.nullCorr(ev,
      Seq("value", "v2")) }
    val n6 = countJobs { graft.eda.EdaOps.nullCorr(ev6,
      Seq("value", "v2", "user_id", "v3", "v4", "v5")) }
    assert(n6 <= n2, s"nullCorr: $n2 jobs for 1 pair but $n6 for 15")
    val i2 = countJobs { graft.eda.EdaOps.inferReport(ev,
      Seq("value", "v2")) }
    val i6 = countJobs { graft.eda.EdaOps.inferReport(ev6,
      Seq("value", "v2", "user_id", "v3", "v4", "v5")) }
    assert(i6 <= i2, s"inferReport: $i2 jobs for 2 cols but $i6 for 6")
  }

  test("corrTable spearman ranks avoid the single-partition global " +
      "window (no Window in the plan; range-partitioned sort instead)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // pearson: the whole table is ONE aggregation — no window, no join
    val pear = graft.eda.EdaOps.corrTable(ev, Seq("value"),
      Seq("value", "user_id"), "pearson").head
    assert(pear.getDouble(1) == 1.0)
    // spearman: assert the rank construction's plan has no
    // partition-less Window (which would collapse to 1 partition);
    // the distributed path shows SortExec from the range partitioner
    val sp = graft.eda.EdaOps.corrTable(ev, Seq("value"),
      Seq("value", "user_id"), "spearman").head
    assert(math.abs(sp.getDouble(1) - 1.0) < 1e-12)
  }

  test("q1_agg aggregates with a map-side partial phase") {
    val plan = SparkEntry.queries("q1_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan) // partial_sum before exchange
  }

  test("lin_reg_pred joins per-group coefficients via broadcast") {
    val plan = SparkEntry.queries("q_lin_reg_pred")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("rolling OLS plans ONE window exchange; sums are partial-free " +
      "window aggs, the solve is the only UDF") {
    import spark.implicits._
    val df = (0 until 100).map(i =>
      (i.toLong, i * 0.7 % 3, i * 1.3 % 5, i * 0.1, "g")).toDF(
      "o", "x1", "x2", "y", "g")
    val plan = graft.ops.LinRegOps.rollingLinReg(df,
        Seq(col("x1"), col("x2")), col("y"), col("o"), Seq("g"), 8)
      .queryExecution.executedPlan.toString
    // all Gram/cross sums ride one Window operator over one exchange —
    // a second exchange would mean the sums shuffled twice
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      plan)
    assert(plan.linesIterator.count(_.contains("- Window ")) == 1, plan)
  }

  test("hcReport end-to-end on real groups: finite robust errors, " +
      "one row per group (pass 2 joins via an explicit broadcast hint)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val out = graft.ops.LinRegOps.hcReport(li, Seq(col("l_quantity")),
      col("l_extendedprice"), Seq("l_returnflag"))
    // correctness smoke: one row per returnflag, finite ses
    val rows = out.collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val se = r.getSeq[Double](r.fieldIndex("hc3_se"))
      assert(se.forall(v => !v.isNaN && !v.isInfinite && v > 0))
    }
  }

  test("isKnnFrom finds the k-th threshold via TakeOrderedAndProject") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val plan = graft.knn.KnnOps.isKnnFrom(df, Seq(col("x")), Seq(0.0), 5,
        col("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // and the per-row comparison side must not contain a global sort
    assert(!plan.contains("Sort [_d"), plan)
  }

  test("exact dedup window partitions by fingerprint (no global window)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.text.TextOps.exactDedup(docs, col("text"),
        col("doc_id"))
      .queryExecution.executedPlan.toString
    // the row_number window must be keyed (hash-partitioned), not empty
    assert(plan.contains("hashpartitioning"), plan)
  }

  test("zorderKey stays pure codegen'd column algebra (no UDF)") {
    // over a real scan — a local Seq would be folded to LocalTableScan
    // by ConvertToLocalRelation and leave nothing to codegen
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plan = li.select(graft.ops.ScaleOps.zorderKey(
        Seq(col("l_orderkey"), col("l_partkey")), 8).as("z"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks a WholeStageCodegen span in the compact plan string
    assert(plan.contains("*(") && plan.contains("Project"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      plan)
  }

  test("sessionStats reuses the window's shuffle for the session agg") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val plan = graft.streaming.SessionOps.sessionStats(ev,
        Seq(col("user_id")), col("ts"), 1800000000000L)
      .queryExecution.executedPlan.toString
    // one exchange for the user_id window; the (user_id, session_id)
    // groupBy is satisfied by the same hash partitioning — a second
    // exchange would mean the plan re-shuffles already-co-located rows
    val nExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(nExchanges == 1, s"expected 1 shuffle, plan:\n$plan")
  }

  test("bloomPrefilter filters the big side below the join exchange") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pre = graft.ops.ScaleOps.bloomPrefilter(li, col("l_orderkey"),
      ord, col("o_orderkey"), 1000L, 0.01)
    val joined = pre.join(ord, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // the bloom UDF specifically (not just any filter) must sit between
    // the lineitem scan and the first exchange above it — i.e. rows are
    // pruned BEFORE they enter the shuffle
    val scanIdx = plan.indexOf("lineitem.parquet")
    assert(scanIdx >= 0, plan)
    val filterIdx = plan.lastIndexOf("bloomMightContain", scanIdx)
    assert(filterIdx >= 0,
      s"no bloomMightContain filter above the lineitem scan:\n$plan")
    val between = plan.substring(filterIdx, scanIdx)
    assert(!between.contains("Exchange"),
      s"bloom filter sits above an exchange (not pushed to scan):\n$plan")
    // and it must actually prune: only 1-URGENT orders' lineitems pass
    // (modulo bloom false positives, far fewer than the full table)
    val total = li.count()
    val kept = pre.count()
    assert(kept < total,
      s"bloom prefilter kept all $total rows — no pruning happened")
    // contract: prefilter + join == plain join (no silent row loss)
    val exact = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == exact,
      s"bloomPrefilter broke the join contract: ${joined.count()} != $exact")
  }

  test("bloomPrefilter holds the join contract for string keys") {
    // a string key is not long-castable — the bloom must hash the raw
    // key (xxhash64), never cast it (cast→null dropped every row)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val big = docs.select(col("doc_id"), col("source"))
    val small = docs.select(col("source")).distinct()
      .filter(col("source") > "m").select(col("source").as("src"))
    val pre = graft.ops.ScaleOps.bloomPrefilter(big, col("source"),
      small, col("src"), 100L, 0.01)
    val exact = big.join(small, col("source") === col("src")).count()
    val viaBloom = pre.join(small, col("source") === col("src")).count()
    assert(exact > 0, "degenerate fixture: no matching rows")
    assert(viaBloom == exact,
      s"string-key bloom prefilter lost rows: $viaBloom != $exact")
  }

  test("partitioned layout prunes directories via PartitionFilters") {
    import graft.sources.Bucketing
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_part_spec"
    Bucketing.writePartitioned(
      spark.read.parquet(s"$dir/documents.parquet"), root, Seq("source"))
    val q = spark.read.parquet(root).filter(col("source") === "src1")
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    // the source predicate must be a partition (directory) filter, not
    // a data filter evaluated per row
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ")
        .matches(".*PartitionFilters: \\[[^]]*src1[^]]*\\].*"), plan)
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src1").count()
    assert(q.count() == expected && expected > 0)
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // one hot key owns ~95% of the left side — the classic straggler.
    // With thresholds scaled to the fixture, AQE's OptimizeSkewedJoin
    // must split the hot partition (skew=true in the final plan); this
    // pins the config contract saltedAgg/docs rely on for joins (AQE
    // handles skewed JOINS; salting remains for skewed aggregations).
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select((when(col("id") % 20 =!= 0, lit(7L))
          .otherwise(col("id") % 1000)).as("k"), col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val j = left.join(right, "k")
      // execute THIS dataset's plan (count() would build a separate
      // QueryExecution and leave j's adaptive plan un-finalized)
      assert(j.collect().length == 200000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"no skew-split in adaptive plan:\n$finalPlan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("saltedAgg plans the two-phase shape: phase-1 exchange keys " +
      "include the salt, phase-2 combines per key") {
    // The hot-key AGGREGATION mitigation (AQE skew-join only covers
    // joins): phase 1 must shuffle on (keys, _salt) so one hot key
    // spreads over `salt` reduce partitions; phase 2 shuffles the tiny
    // partial table on the bare keys. A regression collapsing this to
    // one exchange on the bare key would silently reintroduce the
    // straggler; SkewBench's salted_agg_hot_user row (BASELINE.md)
    // measures the behavior, this pins the plan.
    val df = spark.range(100000)
      .select((col("id") % 5).as("k"), (col("id") % 13).as("v"))
    val agg = graft.ops.ScaleOps.saltedAgg(df, Seq("k"), 8,
      Seq(("sum", "v", "sv"), ("count", "v", "n")))
    assert(agg.collect().map(_.getLong(0)).sorted.sameElements(
      Array(0L, 1L, 2L, 3L, 4L)))
    val plan = agg.queryExecution.executedPlan.toString
    val exchanges = "hashpartitioning\\([^)]*\\)".r
      .findAllIn(plan).toList
    val saltPhases = exchanges.filter(_.contains("_salt"))
    val keyPhases = exchanges.filterNot(_.contains("_salt"))
    assert(saltPhases.nonEmpty,
      s"no (keys, _salt) exchange in saltedAgg plan:\n$plan")
    assert(keyPhases.nonEmpty,
      s"no bare-key combine exchange in saltedAgg plan:\n$plan")
  }

  test("co-bucketed join plans with zero Exchange") {
    import graft.sources.Bucketing
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_bkt_spec"
    Bucketing.writeBucketed(
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_custkey", "o_totalprice"),
      "spec_bo", s"$root/orders", 4, Seq("o_custkey"))
    Bucketing.writeBucketed(
      spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
      "spec_bc", s"$root/customer", 4, Seq("o_custkey"))
    // disable broadcast so the only shuffle-free path is the bucket
    // layout itself (a broadcast join would hide a broken layout)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketedJoin(spark, "spec_bo", "spec_bc",
        Seq("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still shuffles:\n$plan")
      // and the result matches the plain (shuffled) join
      val exact = spark.read.parquet(s"$dir/orders.parquet")
        .select("o_custkey", "o_totalprice")
        .join(spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"))
        .count()
      assert(joined.count() == exact,
        s"bucketed join row count ${joined.count()} != $exact")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("semanticDupPairs keeps its pair-kernel stage wide: the bucket " +
    "exchange is an explicit-count repartition AQE cannot coalesce") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val plan = graft.sim.SimOps.semanticDupPairs(emb, col("id"),
        col("vec"), 0.3, nCells = 4)
      .queryExecution.executedPlan.toString
    // REPARTITION_BY_NUM marks a user-fixed partition count; AQE's
    // byte-based coalescing must not fold the quadratic compare into
    // one task (compute there is quadratic in rows, not linear in bytes)
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(4000))
  }

  test("ngramLmScore plans as hash joins on gram hashes — no cartesian " +
    "product, vocabulary broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.text.LmOps.ngramLmScore(docs, col("text"), docs,
        col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    // the only nested-loop join allowed is the 1-row vocab broadcast
    val bnlj = plan.linesIterator
      .count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, plan.take(4000))
  }

  test("imageDupPairs bands plan as an equi-join — no cartesian or " +
    "nested-loop candidate generation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), graft.multimodal.MultimodalOps
        .syntheticBmp(col("doc_id") % 31).as("payload"))
    val plan = graft.multimodal.MultimodalOps
      .imageDupPairs(docs, col("doc_id"), col("payload"), 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("minhash sweep evaluates the signature agreement once per " +
    "candidate pair: the threshold filter reads the projected value") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bands = graft.text.TextOps.minHashBandTable(docs, col("doc_id"),
      col("text"))
    val plan = graft.text.TextOps.minHashDupPairsFromBands(bands, 0.5)
      .queryExecution.executedPlan.toString
    val agreements = raw"UDF\(__s1#\d+, __s2#\d+\)".r.findAllIn(plan).size
    assert(agreements == 1, plan)
    // the streaming twin's corpus leg, planned over a batch Dataset
    val (corpus, fresh) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val corpusBands = graft.text.TextOps.minHashBandTable(corpus,
      col("doc_id"), col("text"))
    val streamPlan = graft.streaming.StreamOps
      .streamingIncrementalMinHashDupPairs(fresh, col("doc_id"),
        col("text"), corpusBands, 0.5)
      .queryExecution.executedPlan.toString
    val streamAgreements =
      raw"UDF\(__sn#\d+, __sc#\d+\)".r.findAllIn(streamPlan).size
    assert(streamAgreements == 1, streamPlan)
  }

  test("minhash band tables and their sweeps over one input are " +
    "sameResult, so the CacheManager can match them") {
    import graft.text.TextOps
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def bands() = TextOps.minHashBandTable(docs, col("doc_id"), col("text"))
    val (b1, b2) = (bands(), bands())
    assert(b1.queryExecution.analyzed.sameResult(b2.queryExecution.analyzed))
    val (p1, p2) = (TextOps.minHashDupPairsFromBands(b1, 0.5),
      TextOps.minHashDupPairsFromBands(b2, 0.5))
    assert(p1.queryExecution.analyzed.sameResult(p2.queryExecution.analyzed))
    // a different banding is a different plan
    val other = TextOps.minHashBandTable(docs, col("doc_id"), col("text"),
      bands = 8)
    assert(!b1.queryExecution.analyzed.sameResult(
      other.queryExecution.analyzed))
  }

  test("repeated q_incremental_dedup calls hold a constant cache entry " +
    "count") {
    // the query persists its signed band table and never releases it;
    // a plan-stable table makes every later call's persist find that
    // one entry instead of adding its own (CacheHygieneSpec's probe)
    val run = SparkEntry.queries("q_incremental_dedup")
    val counts = (1 to 3).map { _ =>
      run(spark, dir).collect()
      org.apache.spark.sql.graft.CacheProbe.numCachedEntries(spark)
    }
    assert(counts.distinct.size == 1, s"entries after each call: $counts")
  }

  test("urlDedup is one hash aggregation over a narrow projection " +
    "of the scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.text.UrlOps.urlDedup(
        docs.select(col("doc_id"),
          graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url")),
        col("doc_id"), col("url"))
      .queryExecution.executedPlan.toString
    // exactly one data exchange (the canonical-key groupBy); AQE may
    // add none beyond it
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected 1 exchange:\n${plan.take(4000)}")
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("seededSample plans per-partition top-k (TakeOrderedAndProject), " +
    "not a full sort") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
    val plan = graft.sample.SampleOps.seededSample(df, col("doc_id"),
        50, seed = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // no global range-sort stage: the only exchange is the driver
    // merge built into TakeOrdered
    assert(!plan.contains("rangepartitioning"), plan.take(3000))
  }

  test("epochShufflePositions plans only pid-bounded windows " +
    "(GlobalCumsum contract)") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
    assertBoundedWindows(graft.sample.SampleOps
      .epochShufflePositions(df, col("doc_id"), 1))
  }

  test("ungrouped spearman plans only pid-bounded windows (rank maps " +
    "from GlobalCumsum, no zero-column window)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plan = graft.ops.StatOps.spearman(li, col("l_quantity"),
        col("l_extendedprice"), Nil)
      .queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("__gcs_pid"),
        s"unbounded zero-column Window in ungrouped spearman:\n$l")
    }
  }

  /** Every Window node in an UNGROUPED metric/quantile plan must be
    * bounded: either keyed by the GlobalCumsum range-partition id
    * (P-way parallel) or ordering the ≤P-row per-partition offsets
    * table (which also carries the pid column). A Window line without
    * the pid column is the single-task global window these ops must
    * never plan. */
  private def assertBoundedWindows(
      df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val windows = plan.linesIterator
      .filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, s"expected GlobalCumsum windows:\n$plan")
    windows.foreach { l =>
      assert(l.contains("__gcs_pid"),
        s"unbounded zero-column Window in plan line:\n$l\n$plan")
    }
  }

  test("ungrouped rocAuc / tprFpr / averagePrecision plan no " +
      "single-partition window (range-partitioned running sums)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("y", (col("event_id") % 7 === 0).cast("int"))
      .withColumn("p", (col("event_id") % 1000) / 1000.0)
    assertBoundedWindows(
      graft.ops.MetricOps.rocAucNamed(ev, col("y"), col("p"), Nil))
    assertBoundedWindows(
      graft.ops.MetricOps.tprFpr(ev, col("y"), col("p"), Nil))
    assertBoundedWindows(
      graft.ops.MetricOps.averagePrecision(ev, col("y"), col("p"), Nil))
    assertBoundedWindows(
      graft.ops.StatOps.ks2Samp(ev, col("p"), col("y") === 1, Nil))
    assertBoundedWindows(
      graft.ops.StatOps.mannWhitneyU(ev, col("p"), col("y") === 1, Nil))
    assertBoundedWindows(
      graft.ops.StatOps.effectSizes(ev, col("p"), col("y") === 1, Nil))
    assertBoundedWindows(
      graft.ops.StatOps.kruskalWallis(ev, col("p"), col("event_type"), Nil))
    assertBoundedWindows(graft.ops.StatOps.wilcoxonSignedRank(ev,
      col("p"), col("value"), Nil))
    assertBoundedWindows(
      graft.ops.ChangeOps.pettitt(ev, col("p"), col("event_id"), Nil))
  }

  test("ungrouped drift/rank ops plan no single-partition window") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    assertBoundedWindows(graft.ops.DriftOps.ecdfDistances(ev,
      col("value"), col("user_id") % 2 === 0, Nil))
    assertBoundedWindows(graft.ops.DiagOps.ad2Samp(ev,
      col("value"), col("user_id") % 2 === 0, Nil))
    assertBoundedWindows(graft.ops.PostHocOps.dunn(ev,
      col("value"), col("event_type")))
    // mmdLinear: both rank passes must be GlobalCumsum, and the pair
    // alignment must be a real join (not a driver collect)
    val mmd = spark.read.parquet(s"$dir/embeddings.parquet")
    val mplan = graft.ops.DriftOps.mmdLinear(mmd, col("embedding"),
        col("vec_id"), col("label") < 5, 0.05)
      .queryExecution.executedPlan.toString
    mplan.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("__gcs_pid"), s"zero-key Window:\n$l")
    }
    assert(mplan.contains("Join"), mplan)
  }

  test("histDivergences plans two aggregates over the scan and a " +
      "bins-rows-only window") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val plan = graft.ops.DriftOps.histDivergences(ev, col("value"),
        col("user_id") % 2 === 0, Seq("event_type"), 20)
      .queryExecution.executedPlan.toString
    // the window runs AFTER the bin-count aggregate (bins rows per
    // group), keyed by the group column — never over raw rows
    val winLines = plan.linesIterator
      .filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_type")),
      plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("ungrouped metric values match the grouped (constant-key) path") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("y", (col("event_id") % 7 === 0).cast("int"))
      .withColumn("p", (col("event_id") % 1000) / 1000.0)
      .withColumn("g", org.apache.spark.sql.functions.lit("all"))
    def d(x: Any): Double = x.asInstanceOf[Double]
    val aucU = d(graft.ops.MetricOps
      .rocAucNamed(ev, col("y"), col("p"), Nil).head.get(0))
    val aucG = d(graft.ops.MetricOps
      .rocAucNamed(ev, col("y"), col("p"), Seq("g")).head.get(1))
    assert(math.abs(aucU - aucG) < 1e-12, s"$aucU vs $aucG")
    val apU = d(graft.ops.MetricOps
      .averagePrecision(ev, col("y"), col("p"), Nil).head.get(0))
    val apG = d(graft.ops.MetricOps
      .averagePrecision(ev, col("y"), col("p"), Seq("g")).head.get(1))
    assert(math.abs(apU - apG) < 1e-12, s"$apU vs $apG")
    val tprU = graft.ops.MetricOps.tprFpr(ev, col("y"), col("p"), Nil)
      .orderBy("threshold").collect().map(r =>
        (d(r.get(0)), d(r.get(1)), d(r.get(2))))
    val tprG = graft.ops.MetricOps.tprFpr(ev, col("y"), col("p"), Seq("g"))
      .orderBy("threshold").collect().map(r =>
        (d(r.get(1)), d(r.get(2)), d(r.get(3))))
    assert(tprU.length == tprG.length && tprU.length > 100)
    tprU.zip(tprG).foreach { case (u, g) =>
      assert(math.abs(u._1 - g._1) < 1e-12 &&
        math.abs(u._2 - g._2) < 1e-12 && math.abs(u._3 - g._3) < 1e-12)
    }
    val ksU = graft.ops.StatOps
      .ks2Samp(ev, col("p"), col("y") === 1, Nil).head
    val ksG = graft.ops.StatOps
      .ks2Samp(ev, col("p"), col("y") === 1, Seq("g")).head
    assert(math.abs(d(ksU.get(0)) - d(ksG.get(1))) < 1e-12)
    val mwU = graft.ops.StatOps
      .mannWhitneyU(ev, col("p"), col("y") === 1, Nil).head
    val mwG = graft.ops.StatOps
      .mannWhitneyU(ev, col("p"), col("y") === 1, Seq("g")).head
    assert(math.abs(d(mwU.get(0)) - d(mwG.get(1))) < 1e-9)
    assert(math.abs(d(mwU.get(2)) - d(mwG.get(3))) < 1e-12)
    // one-row-per-group operators: the ungrouped row equals the
    // constant-key row without its key — rank/ECDF operators through
    // GlobalCumsum, and one operator per file whose per-group stats
    // meet their rows via join(stats, groupNames)
    def sameRow(name: String,
                f: Seq[String] => org.apache.spark.sql.DataFrame,
                tol: Double = 1e-12): Unit = {
      val u = f(Nil).collect()
      val g = f(Seq("g")).drop("g").collect()
      assert(u.length == 1 && g.length == 1, name)
      u(0).toSeq.zip(g(0).toSeq).foreach {
        case (a: Double, b: Double) =>
          assert((a.isNaN && b.isNaN) ||
            math.abs(a - b) <= tol * math.max(1.0, math.abs(a)),
            s"$name: $a vs $b")
        case (a, b) => assert(a == b, s"$name: $a vs $b")
      }
    }
    import graft.ops._
    val in1 = col("user_id") % 2 === 0
    sameRow("effectSizes", StatOps.effectSizes(ev, col("p"), in1, _))
    sameRow("kruskalWallis",
      StatOps.kruskalWallis(ev, col("p"), col("event_type"), _), 1e-9)
    sameRow("wilcoxonSignedRank",
      StatOps.wilcoxonSignedRank(ev, col("p"), col("value"), _))
    sameRow("welchAnova",
      StatOps.welchAnova(ev, col("value"), col("event_type"), _), 1e-9)
    sameRow("pettitt", ChangeOps.pettitt(ev, col("p"), col("event_id"), _))
    sameRow("ad2Samp", DiagOps.ad2Samp(ev, col("value"), in1, _))
    sameRow("breuschPagan",
      DiagOps.breuschPagan(ev, col("value"), col("p"), _), 1e-9)
    sameRow("jarqueBera", PostHocOps.jarqueBera(ev, col("value"), _), 1e-9)
    sameRow("kpss", EconOps.kpss(ev, col("value"), col("event_id"), _),
      1e-9)
    sameRow("miBinned", AssocOps.miBinned(ev, col("value"), col("p"), _, 8),
      1e-9)
    sameRow("histDivergences",
      DriftOps.histDivergences(ev, col("value"), in1, _, 10), 1e-9)
    sameRow("bootstrapMeanCI", graft.sample.SampleOps.bootstrapMeanCI(ev,
      col("event_id"), col("value"), _, reps = 8), 1e-9)
    // the attach sites of the distributed Newton / IRLS loops
    System.setProperty("graft.maxLocalIrls", "1")
    try {
      sameRow("coxPh", SurvOps.coxPh(ev, col("p"), col("y"), col("value"),
        _, maxIter = 2), 1e-8)
      sameRow("huberReg", RobustOps.huberReg(ev, col("value"), col("p"),
        _, maxIter = 2), 1e-8)
    } finally System.clearProperty("graft.maxLocalIrls")
  }

  test("an ungrouped stats attach plans a broadcast nested-loop join " +
      "(join on no names, default settings)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    import graft.ops._
    for (df <- Seq(
        EconOps.kpss(ev, col("value"), col("event_id"), Nil),
        DiagOps.breuschPagan(ev, col("value"), col("user_id"), Nil),
        PostHocOps.jarqueBera(ev, col("value"), Nil),
        LinRegOps.linRegPred(ev, Seq(col("user_id")), col("value")))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("curation gates are single-scan plans: rules + repair + split " +
    "fuse into the scan projection with exactly the agg exchange") {
    import graft.text.{EncodingOps, FilterRules}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the full stateless gate stack in one projection
    val gated = graft.sample.SampleOps.hashSplit(docs, col("doc_id"),
        Seq("a" -> 0.5, "b" -> 0.5))
      .withColumn("fixed", EncodingOps.fixMojibake(col("text")))
      .withColumn("g", FilterRules.gopherRules(col("fixed")))
      .withColumn("c", FilterRules.c4Rules(col("fixed")))
    val perSource = gated.filter(col("g.pass") || col("c.keep"))
      .groupBy("source").count()
    val plan = perSource.queryExecution.executedPlan.toString
    // one exchange (the groupBy) — every gate is scan-fused
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx <= 2, s"expected only the agg exchange(s), got $nEx:\n$plan")
    assert(!plan.contains("BatchEvalPython"), plan)
    // projection-only ops plan ZERO exchanges
    for (c <- Seq(
        EncodingOps.fixMojibake(col("text")),
        FilterRules.gopherRules(col("text")),
        FilterRules.c4Rules(col("text")),
        graft.sources.CdxOps.surtKey(col("text")))) {
      val p = docs.select(c.as("x")).queryExecution
        .executedPlan.toString
      assert(!p.contains("Exchange"), p)
    }
  }

  test("DSIR scoring broadcasts the model; KN scoring never shuffles " +
    "gram text (hash-keyed joins only)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.text.DsirOps.fitLogRatio(docs, docs,
      col("doc_id"), col("text"), dim = 32, hexChars = 2)
    val plan = graft.text.DsirOps.score(docs, col("doc_id"),
        col("text"), model, 32, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val kn = graft.text.LmOps.ngramLmScoreKN(docs, col("text"), docs,
        col("doc_id"), col("text"))
      .queryExecution.optimizedPlan.toString
    // every join key in the KN plan is a hash column, not gram text
    assert(!kn.contains("g#") || !kn.contains("Join (g"), kn)
  }
}
