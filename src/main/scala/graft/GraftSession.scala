package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for all graft entry points.
  * testdata's events.parquet stores ts as TIMESTAMP(NANOS) which Spark 4
  * rejects unless nanosAsLong is set (reads as LongType nanos — still a
  * valid monotone order column, which is all the library needs).
  *
  * Codegen class cache: Spark keeps every compiled class (whole-stage
  * subtrees, projections, orderings) in ONE JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` entries, 100 by default. At
  * graft's sizes a grouped metric or test query costs mostly planning
  * and Janino compiles, and a session that re-runs a handful of them
  * overflows 100 entries: graftbench's `analytics` workload (8 queries
  * and a running sum) recompiled 190–332 classes in every warm pass at
  * 100 entries and none at [[CodegenCacheEntries]], and its pass time
  * fell by about a third. The constant holds one full `SparkEntry`
  * round with room to spare (all 329 queries at sf0.001 compile 2,181
  * distinct classes), so a warm re-run compiles only code the cache
  * has not seen (about 140 classes). Measured on a 4-vCPU box after
  * two such rounds against the 100-entry cache: Metaspace 229 → 246 MB,
  * post-GC heap 165 → 234 MB (the cache keeps each class's source text
  * and bytecode, about 30 KB an entry).
  * The setting is static and JVM-wide: `CodeGenerator` sizes its cache
  * ONCE, from the SQLConf active at the JVM's first codegen. It takes
  * effect only when a graft session is the first session in the JVM;
  * an application that embeds graft must set it on its own first
  * session. */
object GraftSession {
  /** Entries of Spark's JVM-wide codegen class cache (see above). */
  val CodegenCacheEntries: Int = 4096

  def builder(cpus: String): SparkSession.Builder = {
    // Executor-shape validation hook: GRAFT_MASTER=local-cluster[4,8,8192]
    // runs the identical entry points across real worker JVMs — actual
    // closure/broadcast serialization and shuffle transport instead of
    // local mode's same-JVM shortcuts. GRAFT_JARS must then point at the
    // packaged app jar (sbt package) so executors can load graft classes.
    val master = sys.env.getOrElse("GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce small post-shuffle partitions to the advisory SIZE
      // instead of stopping early to "maximize parallelism" (the
      // Spark docs themselves recommend false): at any scale this
      // respects advisoryPartitionSizeInBytes, and on small shuffles
      // it stops scheduling dozens of near-empty reduce tasks per
      // stage (A/B in OPTIMIZATION_r16.md).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bucketed-table writes (sources.Bucketing) register external
      // tables; keep the managed-table root out of the repo tree.
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // Reclaim dropped RDD/broadcast blocks in long-lived sessions
      // (Spark's default 30 min lets unreachable blocks pile up and
      // evict useful cache on a busy cluster). NOT shorter than 10 min:
      // this timer forces a FULL GC, which pauses a large driver heap
      // for seconds — at 2 min it landed mid-query often enough to
      // double a benchmark query's wall-clock (r6: q_dup_clusters
      // 6.4 s → 12.5 s was exactly one such pause). Operators already
      // free their own blocks eagerly via Release.scoped, so the timer
      // is a backstop, not the primary hygiene. Harnesses that do their
      // own inter-query GC override it with `.config(...)`.
      .config("spark.cleaner.periodicGC.interval", "10min")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // Polars-style permissive numerics: x/0 → null, not an error.
      // The reference's kernels never raise on degenerate denominators
      // (e.g. confusion-matrix ratios with an empty class).
      .config("spark.sql.ansi.enabled", "false")
    val b2 = sys.env.get("GRAFT_JARS").fold(b)(b.config("spark.jars", _))
    // Executor heap for multi-JVM shapes (local-cluster[w,c,mem] sets
    // WORKER capacity only — spark.executor.memory stays at the 1g
    // default unless set, which under-provisions every executor; the
    // r11 skew run at executor shape surfaced exactly that). Worker
    // capacity must cover memory + overhead (max(384m, 10%)).
    sys.env.get("GRAFT_EXECUTOR_MEM")
      .fold(b2)(b2.config("spark.executor.memory", _))
  }
}
