package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Try

/** sf10 flagship sweep (r11 verdict ask #5): times the most expensive
  * flagship families — dedup (jaccard/minhash/simhash), connected
  * components + survivorship, ANN (brute/IVF/LSH), SemDeDup, PageRank,
  * grouped GLM/logistic IRLS, and the spearman corr table — across two
  * or more [[MakeScale]] rungs (typically sf1 = ×10 and sf10 = ×100 of
  * the sf0.1 fixture) and reports per-query seconds, output rows, and
  * the time ratio between the largest and smallest rung. Run it at
  * executor shape (`GRAFT_MASTER=local-cluster[4,8,9216]`,
  * `GRAFT_EXECUTOR_MEM=8g`, `GRAFT_JARS=target/...jar`) so the
  * measurement includes real serialization + shuffle transport.
  *
  * Acceptance (BASELINE.md): zero cap trips, zero executor losses, and
  * every time ratio explained — at a 10× data step, ≈10× is
  * linear-in-data; anything clearly super-linear needs a named cause
  * (true output-volume growth, an O(n log n) sort leg, or a bug).
  *
  * Probes that are registered queries run EXACTLY the SparkEntry plan.
  * Three flagships are probed via direct operator calls instead,
  * because their registered forms embed fixed-size or deliberately
  * quadratic ORACLE legs that would not measure engine scaling:
  * q_pagerank caps at doc_id < 5000 (fixed work at every sf);
  * q_semantic_dedup runs nCells=1 (exact all-pairs semantics, the
  * DuckDB-replayable twin); q_cosine_topk/q_ann_ivf carry brute-force
  * exact-baseline legs. The direct probes size their work from the
  * rung's own row counts — the shape a 100 TB pipeline would run.
  *
  * Usage: runMain graft.ScaleSweep <label=dir> <label=dir> [...]
  * Env: GRAFT_SWEEP_REPS (default 2 since r14; best-of-n per rung,
  *      cells carry [min,max]),
  *      GRAFT_SWEEP_QUERIES (csv, overrides the registered-query list),
  *      SPARK_GRAFT_CPUS (the [[Bench.session]] size, default 4 —
  *      scripts/scale_sweep.sh sets 32).
  */
object ScaleSweep {

  /** Minimal JSON string encoder: backslashes, quotes, and control
    * characters (all common in Spark stack-trace-bearing exception
    * messages) must not corrupt the one-line JSON artifact. */
  private def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
    b.toString
  }

  private val registered = Seq(
    "q_jaccard_dup_pairs", // exact n-gram jaccard, per-block hot split
    "q_dup_clusters",      // + large-star/small-star CC
    "q_dedup_survivors",   // + survivorship groupBy
    "q_minhash_dup",       // MinHash LSH band join (full-corpus leg)
    "q_simhash_dup",       // SimHash 32-bit band join (r14: 128-bit fingerprint)
    "q_corr_table",        // spearman rank plan over events
    "q_logistic_grp",      // grouped batch-IRLS logistic over lineitem
    "q_glm_grp")           // grouped poisson+gamma IRLS over lineitem

  def main(args: Array[String]): Unit = {
    require(args.length >= 1,
      "usage: ScaleSweep <label=dir> [<label=dir> ...]")
    val rungs = args.toSeq.map { a =>
      val Array(l, d) = a.split("=", 2)
      (l, d)
    }
    // reps default 2 (r13 verdict ask #4): single-rep sf10 cells swing
    // ±40% with box state — SCALE_SWEEP_r13's own q_logistic/q_glm
    // cells read 68.6/105.2 s single-rep vs 22.0/34.9 s at 2 reps and
    // had to be adjudicated out-of-band. Every committed cell now
    // carries its own [min,max]; GRAFT_SWEEP_REPS=1 opts back into the
    // cheap mode for quick probes.
    val reps = sys.env.getOrElse("GRAFT_SWEEP_REPS", "2").toInt
    val qNames = sys.env.get("GRAFT_SWEEP_QUERIES")
      .map(_.split(",").toSeq).getOrElse(registered)

    val spark = Bench.session()

    @volatile var executorLosses = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(
          e: SparkListenerExecutorRemoved): Unit = {
        executorLosses += 1
        System.err.println(
          s"[sweep] EXECUTOR LOST: ${e.executorId} (${e.reason})")
      }
    })

    /** Direct operator probes, sized from the rung's own row counts. */
    def direct(dir: String, nDocs: Long, nEmb: Long)
        : Seq[(String, () => Long)] = {
      def emb: DataFrame = spark.read
        .parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val ivfCells = math.max(16L, nEmb / 5000L).toInt
      val semCells = math.max(16L, nEmb / 2000L).toInt
      // LSH signature width sized to the rung: ~50 vectors per bucket
      // (each extra plane halves occupancy). A FIXED width makes bucket
      // occupancy — and the verify-join's candidate volume — grow
      // linearly with the corpus, i.e. candidate PAIRS grow
      // quadratically: measured 30× at the r12 10× step with the
      // default 12 planes. Widening the signature as the corpus grows
      // is the standard LSH deployment rule and what a 100 TB run
      // would configure.
      val nPlanes = math.max(8,
        math.ceil(math.log(nEmb / 50.0) / math.log(2.0)).toInt)
      Seq(
        // brute-force exact top-1: 200 broadcast queries, ONE fused
        // zero-shuffle pass over the full corpus (linear in corpus)
        "cosine_topk_full" -> (() =>
          graft.sim.SimOps.cosineTopK(
            emb.filter(col("id") < 200), emb, 1).count()),
        // IVF top-1, 500 queries, cells sized to ~5k vectors each
        "ann_ivf_full" -> (() =>
          graft.sim.SimOps.ivfCosineTopK(
            emb.filter(col("id") < 500), emb, 1,
            nCells = ivfCells, nProbe = 4).count()),
        // LSH banded near-dup pairs over the whole corpus
        "cosine_dup_full" -> (() =>
          graft.sim.SimOps.cosineDupPairs(emb, 0.95,
            nPlanes = nPlanes).count()),
        // SemDeDup clustered path, cells sized to ~2k vectors each
        "semantic_dup_full" -> (() =>
          graft.sim.SimOps.semanticDupPairs(emb, col("id"), col("vec"),
            0.9, nCells = semCells, subBlocks = 2).count()),
        // the hybrid's LARGE-BLOCK leg, forced (routeThreshold=10):
        // hashed-token SSJoin prefix filter + codegen sorted-merge
        // verify. Its cross-rung slope must stay ~linear (true pair
        // volume is exactly 10x at the 10x step in the salt fixture) —
        // this is the leg every block larger than the routing
        // crossover (~48k docs) takes at 100 TB.
        "jaccard_prefix_hybrid" -> (() =>
          graft.text.TextOps.jaccardDupPairs(
            spark.read.parquet(s"$dir/documents.parquet"),
            col("doc_id"), col("text"), col("source"), 0.5,
            routeThreshold = 10L).count()),
        // SimHash band-bucket occupancy across rungs (r13 verdict ask
        // #1's acceptance evidence): returns the DISTINCT (band, key)
        // bucket count and prints avg/max docs per bucket. With the
        // r14 128-bit fingerprint the key space is 2³² per band, so
        // the bucket count must scale ~linearly with the corpus (its
        // cross-rung ratio ≈ the doc ratio) and avg occupancy stay
        // ~constant — the signature of a band space that grows with
        // the data instead of saturating (the old 4×16-bit bands
        // saturate 65,536 buckets corpus-wide: occupancy, and with it
        // candidate volume, grows linearly with n). Max occupancy =
        // the largest exact-dup group (identical docs share all
        // bands), which is duplicate mass, not band saturation.
        "simhash_band_occupancy" -> (() => {
          // the PRODUCTION band derivation, not a re-implementation:
          // the probe must measure the same key space the dedup join
          // buckets on, whatever the band layout becomes
          val occ = graft.text.TextOps.simHashBandTable(
              spark.read.parquet(s"$dir/documents.parquet"),
              col("doc_id"), col("text"))
            .groupBy(col("b"), col("h")).count()
            .agg(count(lit(1)).as("buckets"), avg("count").as("avg_occ"),
              max("count").as("max_occ")).head()
          println(f"[sweep] simhash_band_occupancy $dir: " +
            f"${occ.getLong(0)} buckets, avg ${occ.getDouble(1)}%.3f, " +
            f"max ${occ.getLong(2)} docs/bucket")
          occ.getLong(0)
        }),
        // in-situ hybrid routing at the DEFAULT routeThreshold (r13
        // verdict ask #5): the rung's real source blocks (triangle
        // leg) plus ONE synthetic 60k-doc mega block — past the 50k
        // crossover, so the SSJoin prefix leg and the triangle leg
        // run in the SAME call through the production mixed-leg
        // unionByName. The mega block is near-unique 6-token hash
        // text with one planted dup pair per 97 ids, so its TRUE pair
        // volume is linear; an earlier revision re-blocked 70% of the
        // REAL docs into the mega block, which merged every source's
        // near-dup mass into one block and made the true pair output
        // quadratic in block size (45M pairs at sf1, ~100× that at
        // sf10) — measuring output volume, not routing. Correctness
        // is asserted in-probe: the routed pair set must count- and
        // hash-equal a forced-prefix run on the same frame.
        "jaccard_mixed_route" -> (() => {
          val mega = spark.range(60000L).selectExpr(
              "id + 1000000000 as doc_id",
              "case when id % 97 = 1 then id - 1 else id end as tk",
              "'mega' as blk2")
            .selectExpr("doc_id", "blk2",
              "concat_ws(' ', hex(xxhash64(tk, 1)), hex(xxhash64(tk, 2)), " +
                "hex(xxhash64(tk, 3)), hex(xxhash64(tk, 4)), " +
                "hex(xxhash64(tk, 5)), hex(xxhash64(tk, 6))) as text")
          val docs = spark.read.parquet(s"$dir/documents.parquet")
            .selectExpr("doc_id", "source as blk2", "text")
            .unionByName(mega)
          def sig(route: Long): (Long, Long) = {
            val r = graft.text.TextOps.jaccardDupPairs(docs,
                col("doc_id"), col("text"), col("blk2"), 0.5,
                routeThreshold = route)
              .agg(count(lit(1)).as("c"),
                coalesce(sum(xxhash64(col("id1"), col("id2"))),
                  lit(0L)).as("h")).head()
            (r.getLong(0), r.getLong(1))
          }
          val routed = sig(50000L)
          val forced = sig(1L)
          require(routed == forced, "jaccard_mixed_route: routed " +
            s"pair set $routed != forced-prefix $forced")
          routed._1
        }),
        // the fused dedup funnel (r13): jaccard pairs -> partition-local
        // spanning-forest contraction -> CC, vs q_dup_clusters' unfused
        // pairs-then-CC on the same blocks/threshold. The contraction
        // collapses each task's quadratic clique pairs to <= c-1 forest
        // edges BEFORE the first CC shuffle.
        "dup_clusters_fused" -> (() =>
          graft.graph.GraphOps.dupClustersFromJaccard(
            spark.read.parquet(s"$dir/documents.parquet"),
            col("doc_id"), col("text"), col("source"), 0.5).count()),
        // STAGE ATTRIBUTION of the dup-cluster funnel (r15 verdict ask
        // #1): four independent fused pipelines of increasing depth —
        // pair kernel alone, + spanning-forest contraction, + CC +
        // csize window, and the survivorship anti-join — timed
        // separately so the stage deltas attribute the funnel's
        // cross-rung growth (each pipeline re-runs the kernel; the
        // deltas are the incremental stage costs). Returns the pair
        // count (the volume the excess must be judged against).
        "dup_funnel_stages" -> (() => {
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          def pairs = graft.text.TextOps.jaccardDupPairs(docs,
            col("doc_id"), col("text"), col("source"), 0.5)
          val (tp, np) = Bench.timed(pairs.count())
          val (tf, nf) = Bench.timed(graft.graph.GraphOps
            .localSpanningForest(pairs, col("id1"), col("id2")).count())
          val (tc, nc) = Bench.timed(graft.graph.GraphOps
            .dupClusters(pairs, col("id1"), col("id2")).count())
          val (ts, ns) = Bench.timed(graft.graph.GraphOps
            .dedupByClusters(docs, col("doc_id"), pairs,
              col("id1"), col("id2")).count())
          println(f"[sweep] dup_funnel_stages $dir: " +
            f"pairs $tp%.1f s (${np.get} rows) | +forest ${tf - tp}%.1f s " +
            f"(${nf.get} edges) | +cc+csize ${tc - tf}%.1f s " +
            f"(${nc.get} members) | survivors $ts%.1f s (${ns.get} rows, " +
            f"anti-join delta ${ts - tf}%.1f s)")
          np.get
        }),
        // blocking-column path at shape (r15 verdict ask #7): the
        // simhash band table WITH a source blocking key vs the
        // unblocked probe above — the claimed benefit is key-space
        // multiplication (buckets ~× block cardinality where sources
        // collide), measured as per-block and overall occupancy.
        "simhash_block_occupancy" -> (() => {
          val bt = graft.text.TextOps.simHashBandTable(
            spark.read.parquet(s"$dir/documents.parquet"),
            col("doc_id"), col("text"), blocking = Some(col("source")))
          val occ = bt.groupBy(col("blk"), col("b"), col("h")).count()
            .agg(count(lit(1)).as("buckets"), avg("count").as("avg_occ"),
              max("count").as("max_occ")).head()
          val perBlock = bt.groupBy(col("blk"), col("b"), col("h"))
            .count()
            .groupBy(col("blk"))
            .agg(avg("count").as("a"))
            .agg(min("a"), max("a"), count(lit(1))).head()
          println(f"[sweep] simhash_block_occupancy $dir: " +
            f"${occ.getLong(0)} buckets, avg ${occ.getDouble(1)}%.3f, " +
            f"max ${occ.getLong(2)} docs/bucket; per-block avg range " +
            f"[${perBlock.getDouble(0)}%.3f, ${perBlock.getDouble(1)}%.3f] " +
            f"over ${perBlock.getLong(2)} blocks")
          occ.getLong(0)
        }),
        // distributed PageRank on a synthetic graph scaled to the rung:
        // nodes = nDocs, edges = 20 × nDocs, 8 damped iterations; the
        // driver fast-path is disabled so every rung measures the
        // rank-only-shuffle loop
        "pagerank_full" -> { () =>
          val edges = spark.range(nDocs * 20L).selectExpr(
            s"pmod(xxhash64(id, 'u'), $nDocs) as u",
            s"pmod(xxhash64(id, 'v'), $nDocs) as v")
          System.setProperty("graft.maxLocalPagerank", "0")
          try graft.graph.PageRankOps.pageRank(edges, col("u"), col("v"),
            iterations = 8).count()
          finally System.clearProperty("graft.maxLocalPagerank")
        })
    }

    def probesFor(dir: String): Seq[(String, () => Long)] = {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nEmb = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val entry = qNames.filter(SparkEntry.queries.contains).map(q =>
        q -> (() => Bench.materialize(SparkEntry.queries(q)(spark, dir))))
      // an explicit GRAFT_SWEEP_QUERIES list scopes the DIRECT probes
      // too (e.g. =pagerank_full for a spread-band re-measure); the
      // default list keeps every direct probe
      val dir0 = direct(dir, nDocs, nEmb)
      val dirProbes =
        if (sys.env.contains("GRAFT_SWEEP_QUERIES"))
          dir0.filter(p => qNames.contains(p._1))
        else dir0
      entry ++ dirProbes
    }

    // Warm engine + operator classes on the SMALLEST rung so first-use
    // codegen/C2 cost doesn't land inside the first timed rung and bias
    // the cross-rung ratio (SkewBench's rationale).
    Bench.warmJvm(spark)
    val (wl, wd) = rungs.head
    probesFor(wd).foreach { case (n, f) =>
      Try(f()).failed.foreach(e => System.err.println(s"[sweep] WARM-UP " +
        s"FAILED for $n on rung $wl: $e — its first timed run includes " +
        "compilation cost"))
    }

    // name -> rung label -> (secMin, rows, secMax) | error
    val res = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String,
        Either[String, (Double, Long, Double)]]]()
    for ((label, dir) <- rungs; (name, f) <- probesFor(dir)) {
      // a failed rep fails the cell and skips the remaining reps
      val cell = Try {
        var rows = 0L
        val times = (1 to reps).map { _ =>
          Bench.hygiene(spark)
          val (sec, r) = Bench.timed(f())
          rows = r.get
          sec
        }
        if (reps > 1)
          // per-rep times + max/min spread: the jitter-band evidence a
          // single best-of-n hides (r12 verdict #3 — the pagerank probe
          // showed a 3x same-code spread that needed adjudication)
          println(f"[sweep] $name%-20s $label%-6s reps " +
            times.map(t => f"$t%.2f").mkString("[", ", ", "] s ") +
            f"spread ${times.max / times.min}%.2fx")
        (times.min, rows, times.max)
      }.toEither.left.map(e => s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(200))
      res.getOrElseUpdate(name,
        scala.collection.mutable.LinkedHashMap()) += label -> cell
      cell match {
        case Right((sec, rows, _)) =>
          println(f"[sweep] $name%-20s $label%-6s $sec%8.2f s  " +
            f"($rows%d rows)")
        case Left(err) =>
          println(f"[sweep] $name%-20s $label%-6s FAILED: $err")
      }
    }

    val firstL = rungs.head._1
    val lastL = rungs.last._1
    var nFail = 0
    val qj = res.map { case (n, cells) =>
      val fields = cells.map {
        case (l, Right((sec, rows, secMax))) =>
          f""""${l}_sec":$sec%.3f,"${l}_rows":$rows""" +
            (if (reps > 1) f""","${l}_max":$secMax%.3f""" else "")
        case (l, Left(err)) =>
          nFail += 1
          s""""${l}_error":${jsonStr(err)}"""
      }.mkString(",")
      val ratio = (cells.get(firstL), cells.get(lastL)) match {
        case (Some(Right((a, _, _))), Some(Right((b, _, _)))) if a > 0 =>
          f""","ratio":${b / a}%.2f"""
        case _ => ""
      }
      s""""$n":{$fields$ratio}"""
    }.mkString(",")
    println(s"""{"metric":"scale_sweep","rungs":${rungs.map(_._1)
      .mkString("[\"", "\",\"", "\"]")},"reps":$reps,""" +
      s""""executor_losses":$executorLosses,"failures":$nFail,""" +
      s""""pass":${nFail == 0 && executorLosses == 0},""" +
      s""""queries":{$qj}}""")
    spark.stop()
  }
}
