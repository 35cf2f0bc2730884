package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit,
  TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkInternals

import graft.GraftSession

/** The benchmark's JVM side: sets up a graft session, runs one
  * workload's untimed check pass, then timed passes (and, with
  * `--trace 1`, traced passes), and writes raw samples, spans and
  * listener events as JSON for run.py to check and summarise.
  *
  * Arguments: --workload W --seed S --passes N --trace 0|1
  * --data DIR --work DIR --out FILE --t0 EPOCH_NS
  * [--rows table=n,...] [--route-threshold N] [--batches K]
  * [--incr-data DIR] (dedup_batch: trace the state path too).
  * `t0` is the launcher's clock just before it started this JVM, so
  * set-up time includes JVM start. */
object Main {

  private val ItemTimeoutS = 60L

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") ||
        p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Full GC after the ContextCleaner has dropped the blocks and
    * broadcasts the first GC made unreachable, so old-gen use reads the
    * live set rather than cleanup still in flight. */
  private def settledGc(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }

  /** CPU time the hypervisor gave to other guests (the steal column of
    * /proc/stat, summed over CPUs, in 1/100 s), in seconds; 0 where
    * there is no /proc/stat. Recorded per pass to tell host contention
    * from a slower program. */
  private def stealS(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+")(8).toLong / 100.0
    catch { case _: Exception => 0.0 }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0 = a("t0").toLong
    val work = a("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the harness GCs between passes itself; the session's periodic
      // forced full GC would otherwise land inside timed passes
      .config("spark.cleaner.periodicGC.interval", "2h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // fixed warm-up: one small query through the analyzer, codegen and
    // a job (the untimed check pass warms each item's own plans)
    spark.range(1000L).selectExpr("sum(id)").collect()
    val setupS = (epochNs() - t0) / 1e9
    val out = Paths.get(a("out"))

    val seed = a("seed").toLong
    val data = a("data")
    val traced = a("trace") == "1"
    val wl: Workload = a("workload") match {
      case "analytics" =>
        val rows = a("rows").split(",").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
        new Analytics(spark, data, work, seed, rows)
      case "dedup_batch" =>
        val batch = new DedupBatch(spark, data, a("route-threshold").toLong,
          traced)
        a.get("incr-data").fold[Workload](batch)(incr => new WithTracedExtra(
          batch, new DedupIncremental(spark, incr, work, a("batches").toInt)))
      case "dedup_incremental" =>
        new DedupIncremental(spark, data, work, a("batches").toInt)
    }

    val c0 = System.nanoTime()
    val checks = wl.check()
    val checkS = (System.nanoTime() - c0) / 1e9

    (0 until wl.warmPasses).foreach(p => wl.order(-1 - p).foreach(_.run()))

    // Items run on one worker thread so a hung item can time out.
    val worker = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graftbench-item"); t.setDaemon(true); t }
    def attempt(body: => Unit): Option[String] = {
      val f = worker.submit(new Runnable { def run(): Unit = body })
      try { f.get(ItemTimeoutS, TimeUnit.SECONDS); None }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          try f.get() catch { case _: Exception => () }
          Some(s"timeout after $ItemTimeoutS s")
        case e: ExecutionException => Some(e.getCause.toString)
      }
    }

    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer
    val timedPasses = a("passes").toInt

    def runPasses(withTrace: Boolean, count: Int): Unit =
      (0 until count).foreach { _ =>
        val p = passes.size
        System.gc()
        val cpu0 = os.getProcessCpuTime
        val steal0 = stealS()
        val w0 = System.nanoTime()
        val cg0 = SparkInternals.codegenClasses
        tracer.pass = p
        def body(): Unit = {
          if (withTrace) wl.tracedExtra(tracer)
          wl.order(p).foreach { it =>
            tracer.item = it.name
            val s0 = System.nanoTime()
            val err = attempt(if (withTrace) it.traced(tracer) else it.run())
            val s = (System.nanoTime() - s0) / 1e9
            samples += Map("item" -> it.name, "pass" -> p, "traced" -> withTrace,
              "s" -> s, "ok" -> err.isEmpty,
              "error" -> err.getOrElse(""))
          }
          tracer.item = ""
        }
        if (withTrace) tracer.span("pass")(body()) else body()
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = (os.getProcessCpuTime - cpu0) / 1e9
        val steal = stealS() - steal0
        val codegen = SparkInternals.codegenClasses - cg0
        settledGc()
        passes += Map("pass" -> p, "traced" -> withTrace, "wall_s" -> wall,
          "cpu_s" -> cpu, "heap_mb" -> oldGenMb(), "codegen_classes" -> codegen,
          "steal_s" -> steal)
      }

    // with tracing, one pass in four is traced (at least one): a traced
    // dedup_batch pass also runs the split legs and the state path
    val tracedPasses = if (traced) math.max(1, timedPasses / 4) else 0
    runPasses(withTrace = false, math.max(1, timedPasses - tracedPasses))
    val events = new EventLog
    if (traced) {
      spark.sparkContext.addSparkListener(events)
      runPasses(withTrace = true, tracedPasses)
      SparkInternals.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(events)
    }
    worker.shutdownNow()

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.") || k.startsWith("graft.") } ++
      sys.props.filter(_._1.startsWith("graft."))
    val result = Map(
      "setup_s" -> setupS,
      "check_s" -> checkS,
      "input_rows" -> wl.inputRows,
      "checks" -> checks.map(c => Map("item" -> c.item, "ok" -> c.ok,
        "detail" -> c.detail)),
      "passes" -> passes.toSeq,
      "samples" -> samples.toSeq,
      "facts" -> wl.facts,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass, "item" -> s.item,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "count" -> s.count)),
      "events" -> (if (traced) events.toJson else Map.empty[String, Any]),
      "provenance" -> Map(
        "spark_version" -> spark.version,
        "master" -> spark.sparkContext.master,
        "cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java_version" -> System.getProperty("java.version"),
        "conf" -> conf.toSeq.sortBy(_._1).toMap))
    Files.writeString(out, Json.write(result))
    spark.stop()
  }
}
