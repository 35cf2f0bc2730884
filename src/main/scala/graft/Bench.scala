package graft
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing and diagnostic main. Modes (`runMain graft.Bench <mode>`):
  *   - `suite [q…]` (default): every SparkEntry query, or the named
  *     ones, with the regression tripwire; writes the detail JSON and
  *     prints one JSON line last on stdout.
  *   - `time <q> [sfDir] [reps]`: `reps` timed counts of one query.
  *   - `profile <sfDir> <q…>`: attributes each query's wall to Spark jobs.
  *   - `soak <sfDir>`: every query in one session; residency + heap.
  *   - `explain <sfDir> [q…]`: `.explain("formatted")` per query.
  * Every mode exits 1 if a query failed. `SPARK_GRAFT_CPUS` (default 4)
  * sizes the session of every mode and of [[ScaleSweep]]/[[SkewBench]]. */
object Bench {
  /** The session recipe of every bench main. The harness GCs between
    * queries itself ([[hygiene]]), so the session's periodic forced FULL
    * GC would only inject multi-second stop-the-world pauses INTO timed
    * windows — schedule it beyond any plausible run. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus)
      .config("spark.cleaner.periodicGC.interval", "2h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM warm-up: one codegen'd scan-aggregate before anything is timed. */
  def warmJvm(spark: SparkSession): Unit =
    spark.range(1000000L).selectExpr("sum(id)").collect()

  /** Inter-query hygiene, OUTSIDE timed windows: drop result blocks the
    * previous query left behind (operators free their own big
    * intermediates via Release.scoped, so this is cheap), then GC so the
    * collection happens now rather than bleeding into the next timing. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Wall seconds of `f` and its outcome. A non-fatal throw is a
    * Failure, so a query that fails fast is never recorded as fast;
    * fatal errors (OOM, linkage) propagate. */
  def timed[A](f: => A): (Double, Try[A]) = {
    val t0 = System.nanoTime()
    val r = Try(f)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The timed action on a query's DataFrame, in every bench main. */
  def materialize(df: DataFrame): Long = df.count()

  /** A `time` rep line, as the fresh-JVM adjudication parses it. */
  private[graft] val RepLine = "\\[timeone\\] \\S+ rep\\d+: ([0-9.]+) s".r

  private def lookup(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    names.map(n => n -> SparkEntry.queries(n))
  }

  /** Re-measure one query in a FRESH JVM with this JVM's classpath,
    * flags and environment (so the same SPARK_GRAFT_CPUS): spawns
    * `graft.Bench time <name> <sfDir> 2` and returns the best rep.
    * Trip-sized swings are JVM/box state that a fresh SparkSession in
    * the same JVM cannot shed (r13). None on spawn failure or timeout
    * (10 min). The parent driver stays resident, so the box must hold
    * ~2× the bench heap meanwhile; GRAFT_ADJ_XMX (e.g. "4g") caps the
    * child's heap. A thrashing child never exonerates a trip: the
    * recorded time is the min. */
  private def secondJvmTime(name: String, sfDir: String): Option[Double] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val adjXmx = sys.env.get("GRAFT_ADJ_XMX")
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") ||
          a.startsWith("-javaagent") ||
          (adjXmx.isDefined && a.startsWith("-Xmx"))) ++
        adjXmx.map(x => s"-Xmx$x").toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp",
        System.getProperty("java.class.path"), "graft.Bench", "time",
        name, sfDir, "2")
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val outF = new java.io.ByteArrayOutputStream()
      val pump = new Thread(() => p.getInputStream.transferTo(outF))
      pump.start()
      val done = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); p.waitFor() }
      pump.join(10000)
      val out = new String(outF.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8)
      val times = RepLine.findAllMatchIn(out).map(_.group(1).toDouble).toSeq
      if (times.nonEmpty) Some(times.min) else None
    } catch { case NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode: SparkSession => Boolean = args.toList match {
      case Nil                            => suite(_, sfDir, Nil)
      case "suite" :: qs                  => suite(_, sfDir, qs)
      case "time" :: q :: rest if rest.size <= 2 =>
        time(_, q, rest.headOption.getOrElse(sfDir),
          rest.lift(1).fold(3)(_.toInt))
      case "profile" :: dir :: qs if qs.nonEmpty => profile(_, dir, qs)
      case "soak" :: dir :: Nil           => soak(_, dir)
      case "explain" :: dir :: qs         => s => { explain(s, dir, qs); true }
      case _ =>
        System.err.println("usage: graft.Bench [suite [q…] | " +
          "time <q> [sfDir] [reps] | profile <sfDir> <q…> | " +
          "soak <sfDir> | explain <sfDir> [q…]]")
        sys.exit(2)
    }
    val spark = session()
    val ok = try mode(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** `time`: the JVM warm-up, then `reps` timed counts of one query with
    * no hygiene between them — the dev loop for one operator's plan,
    * and the fresh-JVM adjudication's measurement. */
  def time(spark: SparkSession, name: String, sfDir: String,
           reps: Int): Boolean = {
    warmJvm(spark)
    val fn = SparkEntry.queries(name)
    (1 to reps).map { r =>
      val (sec, rows) = timed(materialize(fn(spark, sfDir)))
      rows.fold(
        e => println(f"[timeone] $name rep$r: FAILED after $sec%.3f s: $e"),
        n => println(f"[timeone] $name rep$r: $sec%.3f s ($n rows)"))
      rows.isSuccess
    }.forall(identity)
  }

  private final case class Job(id: Int, desc: String, start: Long,
                               stages: Int, tasks: Int, var end: Long = 0L)

  /** The jobs started since the last `clear()`, with their end times. */
  private final class JobLog extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, d, e.time, e.stageInfos.size,
        e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    def clear(): Unit = synchronized { jobs.clear() }
    def snapshot: Seq[Job] = synchronized { jobs.values.toSeq }
  }

  /** Janino compiles in this JVM so far: each is a miss of Spark's
    * codegen class cache ([[GraftSession.CodegenCacheEntries]]). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `profile`: runs each query once (after the JVM warm-up, with
    * hygiene before each) and prints one summary line per query plus
    * one line per Spark job (start offset, duration, stages, tasks,
    * description). `gap` = wall − in-job time = driver-side planning,
    * codegen and collect work; `build` = DataFrame construction.
    * `compiles` is the exact count of Janino compiles the query caused;
    * `codegen~=` is approximate: that count × the mean of
    * CodegenMetrics' sampled (decaying) reservoir, not a true sum. */
  def profile(spark: SparkSession, sfDir: String,
              names: Seq[String]): Boolean = {
    val queries = lookup(names)
    warmJvm(spark)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try queries.map { case (n, fn) =>
      hygiene(spark)
      log.clear()
      val c0 = compiles()
      val t0Ms = System.currentTimeMillis()
      val (build, df) = timed(fn(spark, sfDir))
      val (run, rows) = timed(materialize(df.get))
      val nCompiles = compiles() - c0
      val cgMs = nCompiles * math.round(
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean)
      rows.failed.foreach(e => println(s"[profile] $n " +
        (if (df.isFailure) "CONSTRUCT " else "") + s"FAILED: $e"))
      Thread.sleep(300) // the listener bus is async; let it drain
      val js = log.snapshot
      val inJob = js.map(j =>
        if (j.end > 0) (j.end - j.start) / 1e3 else 0.0).sum
      val wall = build + run
      println(f"[profile] $n wall=$wall%.3f s " +
        s"rows=${rows.getOrElse(-1L)} " +
        f"jobs=${js.size} injob=$inJob%.3f s " +
        f"gap=${wall - inJob}%.3f s build=$build%.3f s " +
        f"compiles=$nCompiles codegen~=${cgMs / 1e3}%.3f s")
      js.foreach { j =>
        val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"[profile]   job ${j.id}%3d " +
          f"+${(j.start - t0Ms) / 1e3}%6.2fs dur=$dur%7.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(80)}")
      }
      rows.isSuccess
    }.forall(identity)
    finally spark.sparkContext.removeSparkListener(log)
  }

  /** `soak`: runs EVERY query in ONE session to prove the
    * persist/unpersist + `Release.scoped` discipline holds — no OOM,
    * and block residency back at baseline after each query. Blocks a
    * query hands back (a localCheckpoint'ed result the CALLER owns)
    * count as `left_behind` and are freed like a disciplined caller
    * would. Heap is sampled post-GC per query; the JSON line reports
    * the peak, the final residual, and every query that left blocks or
    * failed. `compiles` counts each query's Janino compiles (codegen
    * cache misses) and the JSON line their total: a query that still
    * compiles on a warm re-run generated code the cache had not seen.
    * Run at the executor budget: `SPARK_DRIVER_MEM=8g
    * SPARK_GRAFT_CPUS=8`. */
  def soak(spark: SparkSession, sfDir: String): Boolean = {
    val sc = spark.sparkContext
    val rt = Runtime.getRuntime
    def heapMb(): Long = { System.gc()
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024) }

    var peakHeap = 0L
    var errors = List.empty[String]
    var leavers = List.empty[(String, Int)]
    val t0 = System.nanoTime()
    val compiles0 = compiles()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val pre = sc.getPersistentRDDs.keySet
      val c0 = compiles()
      timed(materialize(fn(spark, sfDir)))._2.failed.foreach(e =>
        errors ::= s"$name:${e.getClass.getSimpleName}")
      val nCompiles = compiles() - c0
      val post = sc.getPersistentRDDs
      val left = (post.keySet -- pre).toSeq
      if (left.nonEmpty) leavers ::= (name, left.size)
      // disciplined caller: free the results handed back to us, then
      // verify residency is back at the pre-query set
      left.foreach(id => post(id).unpersist(blocking = true))
      val residual = sc.getPersistentRDDs.keySet -- pre
      require(residual.isEmpty,
        s"$name: ${residual.size} blocks survived caller unpersist")
      val h = heapMb()
      if (h > peakHeap) peakHeap = h
      println(f"[soak] $name%-28s heap=${h}%5d MB " +
        s"left_behind=${left.size} compiles=$nCompiles")
    }
    val total = (System.nanoTime() - t0) / 1e9
    val finalResident = sc.getPersistentRDDs.size
    val lv = leavers.reverse.map { case (n, k) => s""""$n":$k""" }
      .mkString(",")
    val er = errors.reverse.map(e => s""""$e"""").mkString(",")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    println(f"""{"metric":"soak","sf":"$sfDir","cpus":$cpus,""" +
      s""""heap_max_mb":${rt.maxMemory() / (1024 * 1024)},""" +
      s""""n_queries":${SparkEntry.queries.size},""" +
      f""""total_sec":$total%.1f,"peak_heap_mb":$peakHeap,""" +
      s""""final_heap_mb":${heapMb()},""" +
      s""""compiles":${compiles() - compiles0},""" +
      s""""final_resident_rdds":$finalResident,""" +
      s""""errors":[$er],"left_behind":{$lv}}""")
    errors.isEmpty
  }

  /** `explain`: `.explain("formatted")` for the named queries (or a
    * representative default set), to review scan pruning, pushdown,
    * broadcasts and codegen spans. */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    lookup(if (names.nonEmpty) names
      else Seq("q1_agg", "q_lin_reg", "q_roc_auc", "q_knn_kth_dist",
        "q_jaccard_dup_pairs", "q_pipeline")).foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }

  /** `suite`: times every SparkEntry query (or the named ones) with the
    * regression tripwire below. Returns false if any query failed. */
  def suite(spark: SparkSession, sfDir: String, names: Seq[String]): Boolean = {
    val selected =
      if (names.isEmpty) SparkEntry.queries else lookup(names).toMap
    // Warmup: the JVM, then Spark's own operators and the library
    // kernels on small SYNTHETIC inputs, then a scan of every table.
    // Measured queries still pay their own plan + data-specific
    // codegen; the warmup removes first-use compilation (codegen + C2)
    // of engine/operator classes that any long-lived production
    // session would have warm.
    try {
      warmJvm(spark)
      locally {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val a = spark.range(200000L)
          .selectExpr("id", "id % 97 as k", "cast(id % 13 as double) as v",
            "concat('w', id % 31, ' w', id % 17) as s")
        a.groupBy("k").agg(avg("v"), count(lit(1))).collect()
        a.join(a.select(col("id"), col("v").as("v2")), "id")
          .agg(sum(col("v") * col("v2"))).collect()
        a.select(col("k"), row_number().over(
            Window.partitionBy("k").orderBy("v")).as("rn"),
          sum("v").over(Window.partitionBy("k")).as("sv"))
          .agg(sum("rn"), sum("sv")).collect()
        a.select(explode(split(col("s"), " ")).as("t"))
          .groupBy("t").count().collect()
        a.select(col("id"), col("k"))
          .join(broadcast(a.select(col("k").as("k2")).distinct()),
            col("k") === col("k2")).count()
        // higher-order array lambdas, md5 bucketing and global top-k
        // (the DSIR/n-gram family's interpreted-eval paths)
        a.select(explode(
            transform(filter(split(col("s"), " "), w => w =!= ""),
              t => concat_ws(" ", t, t))).as("g"))
          .select(pmod(conv(substring(md5(col("g")), 1, 4), 16, 10)
            .cast("long"), lit(64L)).as("b"))
          .groupBy("b").count().collect()
        a.select(col("id"),
            aggregate(transform(sequence(lit(0), lit(3)),
              i => i.cast("double") * col("v")), lit(0.0),
              (acc, x) => acc + x).as("x"))
          .orderBy(col("x").desc).limit(50).collect()
        // dedup/CC/band-join/crossJoin-of-aggs shapes: their first-use
        // compilation was the r8 cold/warm split (4-8×, e.g.
        // q_dedup_survivors 7.9 vs 1.9 s). Inputs of a few thousand
        // rows push the hot inner loops past C2's invocation thresholds
        // (300-row toys did not, r10) for ~1 s of one-time cost.
        def quietly(f: => Unit): Unit = Try(f)
        quietly {
          val docs = spark.range(3000L).selectExpr("id as i",
            "concat('t', id % 29, ' t', id % 7, ' t', (id * 11) % 31," +
              " ' t', id % 3) as txt",
            "cast(id % 2 as string) as blk")
          val pairs = graft.text.TextOps.jaccardDupPairs(docs,
              col("i"), col("txt"), col("blk"), 0.3)
            .persist()
          graft.graph.GraphOps.dedupByClusters(docs, col("i"), pairs,
            col("id1"), col("id2")).count()
          pairs.unpersist(blocking = false)
        }
        quietly {
          graft.text.TextOps.minHashDupPairs(
            spark.range(1000L).selectExpr("id as i",
              "concat('a', id % 13, ' b', id % 5, ' c', id % 7," +
                " ' d', id % 3) as txt"),
            col("i"), col("txt"), 0.5, 3, 32, 8).count()
        }
        quietly { // distributed star rounds (no local finish)
          graft.graph.GraphOps.connectedComponents(
            spark.range(5000L).selectExpr("id % 311 as u",
              "(id * 7) % 311 as v"),
            col("u"), col("v"), 25, 0L).count()
        }
        quietly { // breeze first-use init (eigSym/svd class
          // loading + netlib probe — the PCA/SVD family's cold cost,
          // ~1-3 s, that any long-lived session pays exactly once)
          val m = breeze.linalg.DenseMatrix((1.0, 0.2), (0.2, 1.0))
          breeze.linalg.eigSym(m)
          breeze.linalg.svd(m)
        }
        quietly { // crossJoin of tiny aggregates (kappa class)
          val one = spark.range(1000L)
            .selectExpr("id % 5 as k", "cast(id % 3 as double) as v")
          one.groupBy("k").agg(sum("v").as("s"))
            .crossJoin(one.agg(sum("v").as("t")))
            .select(sum(col("s") / col("t"))).collect()
        }
      }
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.foreach { t =>
        val p = new java.io.File(s"$sfDir/$t.parquet")
        if (p.exists()) {
          import org.apache.spark.sql.functions.{col, hash, sum}
          val df = spark.read.parquet(p.getPath)
          df.select(hash(df.columns.map(col): _*).as("h"))
            .agg(sum("h")).collect()
        }
      }
    } catch { case NonFatal(_) => }
    // Calibration canary: sf-INDEPENDENT deterministic work (a
    // codegen'd scan-aggregate plus a shuffle-heavy groupBy-join),
    // probed twice up front, once mid-loop and once at the end, each
    // timestamped. The BEST probe over the committed calibration is
    // the session speed factor (min-based: interference inflates,
    // never deflates, a timing, so a noisy canary cannot normalize a
    // regression away). If the first and last probe disagree by > 1.3×
    // the box drifted, and trips are judged against the probe NEAREST
    // each measurement. Decision logic lives in [[BenchProtocol]].
    val sessionT0 = System.nanoTime()
    def nowAt: Double = (System.nanoTime() - sessionT0) / 1e9
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      // scan+agg leg: 20M-row codegen'd arithmetic aggregate
      spark.range(20000000L)
        .selectExpr("sum(id * 3 + 1) as s", "avg(id % 997) as a")
        .collect()
      // shuffle leg: 2M rows through a groupBy + self-join on the key
      val d = spark.range(2000000L)
        .selectExpr("pmod(hash(id), 9973) as k",
          "cast(id % 13 as double) as v")
      val g = d.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      g.join(d, "k").agg(sum(col("s") * col("v"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probeBuf = mutable.ArrayBuffer[BenchProtocol.Probe]()
    val pairSpreads = mutable.ArrayBuffer[Double]()
    // r16 verdict ask #7: two back-to-back canary runs per probe
    // point, keep the min (BenchProtocol.pairProbe) — outside every
    // timed query window, so only the session length grows
    def takeProbe(): Unit =
      try {
        val (p, spread) =
          BenchProtocol.pairProbe(nowAt, canaryOnce(), canaryOnce())
        probeBuf += p
        pairSpreads += spread
      } catch { case _: Throwable => }
    takeProbe(); takeProbe()
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json"))
    // Previous run's per-query medians, spread bands, and calibration
    // (the file this run will overwrite): the regression tripwire
    // below compares against them. The spread section exists in
    // close-merged files (median-of-≥3 runs + [min,max] per query);
    // single-run files degrade to the pure-median rule.
    val (prev: Map[String, Double], prevCal: Double,
         prevSpread: Map[String, (Double, Double)]) =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(detailPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val q = txt.substring(txt.indexOf("\"queries\""))
        val m = "\"(q[\\w]+)\":([0-9.]+)".r.findAllMatchIn(q)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val c = "\"calibration\":([0-9.]+)".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble).getOrElse(0.0)
        val sIdx = txt.indexOf("\"spread\"")
        val s =
          if (sIdx < 0) Map.empty[String, (Double, Double)]
          else "\"(q[\\w]+)\":\\[([0-9.]+),([0-9.]+)\\]".r
            .findAllMatchIn(txt.substring(sIdx))
            .map(m => m.group(1) ->
              (m.group(2).toDouble, m.group(3).toDouble)).toMap
        (m, c, s)
      } catch { case _: Throwable =>
        (Map.empty[String, Double], 0.0,
          Map.empty[String, (Double, Double)]) }
    // A failed query (first pass or retry) is listed under "failed",
    // left out of the total, and fails the run.
    val failed = mutable.LinkedHashSet[String]()
    def timedRun(name: String): Option[Double] = {
      hygiene(spark)
      val (sec, r) = timed(materialize(selected(name)(spark, sfDir)))
      r.failed.foreach { e =>
        failed += name
        println(s"[bench-failed] $name: $e")
      }
      r.toOption.map(_ => sec)
    }
    val qseq = selected.keys.toSeq
    val midIdx = qseq.size / 2
    val firstPassAt = qseq.zipWithIndex.flatMap { case (name, i) =>
      if (i == midIdx && qseq.size >= 4) takeProbe()
      timedRun(name).map(t => (name, t, nowAt))
    }
    takeProbe() // end-of-loop probe: the drifted-tail anchor
    val probes = probeBuf.toSeq
    val calProbes: Seq[Double] = probes.map(_.sec)
    val calibration: Double =
      if (calProbes.nonEmpty) calProbes.min else 0.0
    // session factor > 1: this session runs the canary SLOWER than the
    // committed one did, and committed per-query numbers scale up
    val sessionFactor: Double =
      BenchProtocol.sessionFactor(calProbes, prevCal)
    val drift = BenchProtocol.drifted(probes)
    if (sessionFactor != 1.0 || BenchProtocol.canaryNoisy(calProbes) ||
        drift)
      println(f"[bench-calibration] canary best $calibration%.3f s " +
        f"(probes ${probes.map(p => f"${p.sec}%.3f@${p.at}%.0fs")
          .mkString("/")}, " +
        f"spread ${BenchProtocol.canarySpread(calProbes)}%.2fx, " +
        f"drift ${BenchProtocol.driftRatio(probes)}%.2fx" +
        (if (drift) " DRIFTED — trips judged vs nearest probe" else "") +
        f") vs committed $prevCal%.3f s -> session factor " +
        f"$sessionFactor%.2fx")
    val firstPass = firstPassAt.map { case (n, t, _) => n -> t }.toMap
    val atOf = firstPassAt.map { case (n, _, at) => n -> at }.toMap
    // Regression tripwire (decision logic in [[BenchProtocol]]):
    //   1. a query trips only past BOTH 1.5× the committed median and
    //      1.25× the committed spread hi, scaled by the session factor
    //      (under drift, the factor at the nearest canary probe);
    //   2. a trip gets ONE in-JVM re-run (GC/scheduling jitter);
    //   3. a trip surviving the retry is re-measured in a fresh JVM
    //      ([[secondJvmTime]]). The recorded value is the min across
    //      all measurements; only still-tripping values are regressions.
    def bandOf(n: String): Option[BenchProtocol.Band] =
      prev.get(n).map(p => BenchProtocol.Band(p,
        prevSpread.get(n).map(_._2).getOrElse(p)))
    def factorFor(n: String): Double =
      if (drift)
        BenchProtocol.factorAt(probes, prevCal, atOf.getOrElse(n, 0.0))
      else sessionFactor
    def trips(n: String, t: Double): Boolean =
      bandOf(n).exists(b => BenchProtocol.isTrip(t, b, factorFor(n)))
    val retried = firstPass.flatMap { case (name, t) =>
      if (trips(name, t)) timedRun(name).map(r => name -> math.min(t, r))
      else Some(name -> t)
    }
    // fresh-JVM adjudication, worst excess first, bounded (each spawn
    // pays full JVM + Spark + warmup startup; GRAFT_BENCH_MAX_ADJ=0
    // disables for a pure single-JVM run)
    val maxAdj = sys.env.get("GRAFT_BENCH_MAX_ADJ").map(_.toInt)
      .getOrElse(10)
    val survivors = retried.toSeq
      .filter { case (n, t) => trips(n, t) }
      .sortBy { case (n, t) =>
        -(t - bandOf(n).map(b =>
          BenchProtocol.tripThreshold(b, factorFor(n))).getOrElse(0.0)) }
    val secondJvm: Map[String, Double] =
      survivors.take(maxAdj).flatMap { case (n, t) =>
        val fresh = secondJvmTime(n, sfDir)
        fresh.foreach { ft =>
          println(f"[bench-adjudication] $n: in-suite $t%.2f s -> " +
            f"fresh JVM $ft%.2f s" +
            (if (!trips(n, ft)) " (in-band: JVM/box state, not code)"
             else " (STILL TRIPPING in a fresh JVM)"))
        }
        fresh.map(n -> _)
      }.toMap
    val results = retried.map { case (n, t) =>
      n -> secondJvm.get(n).map(math.min(t, _)).getOrElse(t)
    }
    val regressions = results.toSeq
      .flatMap { case (n, t) =>
        bandOf(n).filter(_ => trips(n, t)).map(b => (n, b.median, t)) }
      .sortBy { case (_, p, t) => -(t - p) }
    regressions.foreach { case (n, p, t) =>
      // say exactly what was measured: a trip past the adjudication
      // budget (or a failed spawn) was only ever best-of-2 in-JVM, and
      // the log must not imply a fresh JVM confirmed it
      val how =
        if (secondJvm.contains(n)) "best incl. fresh-JVM adjudication"
        else "best of 2 in-JVM, NOT fresh-JVM adjudicated"
      println(f"[bench-regression] $n: $p%.2f s -> $t%.2f s " +
        f"(${t / p}%.1fx, $how)")
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Provenance stamp (r11 verdict ask #2: the round-11 close shipped a
    // baseline that predated the code it was later compared against).
    // The detail file records WHICH commit was measured and whether any
    // operator-path file was dirty; round_close gates on both.
    def gitLine(cmd: String*): String =
      try {
        val p = new ProcessBuilder(cmd: _*).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        p.waitFor()
        out
      } catch { case NonFatal(_) => "" }
    val gitHead = gitLine("git", "rev-parse", "HEAD")
    val codeDirty = gitLine("git", "status", "--porcelain", "--",
      "src/main", "build.sbt").nonEmpty
    // Full per-query timings → a file (the harness that captures our
    // stdout keeps only a bounded tail, so the complete map can't ride
    // on the JSON line once the query count is large).
    val regJson = regressions
      .map { case (n, p, t) => "\"" + n + "\":[" + fmt(p) + "," + fmt(t) + "]" }
      .mkString("{", ",", "}")
    val adjJson = secondJvm.toSeq.sortBy(_._1)
      .map { case (n, t) => "\"" + n + "\":" + fmt(t) }
      .mkString("{", ",", "}")
    // slowest queries first — they carry the performance signal
    val entries = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val fullJson = entries.mkString("{\"total\":" + fmt(total) + ",\"n\":" + results.size +
        ",\"sf\":\"" + sfDir + "\",\"head\":\"" + gitHead +
        "\",\"code_dirty\":" + codeDirty +
        ",\"calibration\":" + fmt(calibration) +
        ",\"calibration_probes\":" +
        calProbes.map(fmt).mkString("[", ",", "]") +
        ",\"calibration_probe_times\":" +
        probes.map(p => fmt(p.at)).mkString("[", ",", "]") +
        ",\"canary_spread\":" +
        fmt(BenchProtocol.canarySpread(calProbes)) +
        ",\"canary_pair_spreads\":" +
        pairSpreads.map(fmt).mkString("[", ",", "]") +
        ",\"canary_drift\":" + fmt(BenchProtocol.driftRatio(probes)) +
        ",\"drifted\":" + drift +
        ",\"session_factor\":" + fmt(sessionFactor) +
        ",\"second_jvm\":" + adjJson +
        ",\"regressions\":" + regJson +
        ",\"failed\":" + failed.map("\"" + _ + "\"").mkString("[", ",", "]") +
        ",\"queries\":{", ",", "}}")
    try {
      java.nio.file.Files.write(detailPath,
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => }
    // ONE compact JSON line, last on stdout, packed to a hard character
    // budget: the consumer keeps a ~2000-char stdout tail, and a line
    // that overflows it is unparseable (rounds 1-3 lost all numbers this
    // way).
    val budget = 1600
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"sf":"$sfDir","calibration":${fmt(calibration)},"queries":{"""
    val sb = new StringBuilder(head)
    var first = true
    entries.foreach { e =>
      val add = (if (first) 0 else 1) + e.length
      if (sb.length + add + 2 <= budget) {
        if (!first) sb.append(','); sb.append(e); first = false
      }
    }
    sb.append("}}")
    println(sb.toString)
    failed.isEmpty
  }
}
