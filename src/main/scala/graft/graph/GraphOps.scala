package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components and duplicate-cluster utilities.
  *
  * A pair-emitting dedup operator (exact fingerprints, n-gram Jaccard,
  * MinHash/SimHash/cosine candidates — TextOps/SimOps) answers "which
  * pairs are near-duplicates", but a 100 TB dedup pipeline needs the
  * transitive closure: A~B and B~C must collapse into ONE cluster with
  * ONE surviving document. That closure is connected components over
  * the pair graph.
  *
  * Implementation: alternating large-star / small-star rounds (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
  * — converges in O(log² n) rounds on any graph, each round expressed
  * as algebraic `groupBy(min)` + equi-join, so partial aggregation is
  * map-side and AQE's skew-join split handles the hot hub that forms
  * around a giant component's minimum. No `collect_set` of
  * neighborhoods is ever materialized (a hub row would OOM at scale);
  * the only per-node state is a single min.
  *
  * The reference has no graph surface at all — this is a
  * beyond-the-reference operator motivated by its dedup use-cases
  * (e.g. python/polars_ds/exprs/str2.py similarity filters feeding
  * training-data cleanup).
  */
object GraphOps {

  /** Canonicalize an edge list: long ids, self-loops dropped,
    * undirected edges stored once as (u = min, v = max). */
  private def canon(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** Large-star round: every node connects its LARGER neighbors to the
    * minimum of its closed neighborhood. Emitted edges stay canonical
    * because m ≤ u < v. Pure agg + join — no neighborhood arrays. May
    * emit duplicate edges; the following small-star round's distinct
    * absorbs them (cheaper than an extra dedup shuffle per round). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
  }

  /** Small-star round: every node connects its SMALLER neighbors (and
    * itself) to the minimum among them. Canonical in, canonical out. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("v")).agg(min(col("u")).as("m"))
    val rewired = e.join(mins, "v")
      .filter(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
    val self = mins.select(col("m").as("u"), col("v"))
    rewired.unionAll(self).distinct()
  }

  /** Connected components of the undirected graph given as an edge
    * list. Returns one row per node that appears in `edges`:
    * `(id, component)` with `component` = the minimum node id in its
    * component (so a component's minimum maps to itself). Nodes with no
    * edges don't appear — left-join and `coalesce(component, id)` to
    * label isolated rows.
    *
    * Each round persists its (shrinking) edge set and cuts lineage with
    * `localCheckpoint` — an iterative DataFrame loop otherwise grows
    * the logical plan (and closure serialization) quadratically. On a
    * real cluster prefer `sc.setCheckpointDir` + reliable checkpoints
    * for fault tolerance; localCheckpoint keeps the hot path
    * cluster-shaped while staying testable on local[*].
    *
    * Hybrid finish: star rounds guarantee the edge set shrinks toward
    * one edge per non-root node; once it fits comfortably on the driver
    * (`localFinishThreshold` edges) the remaining contraction switches
    * to an in-memory union-find — a dozen distributed rounds of
    * millisecond-sized stages would otherwise dominate wall-clock. A
    * 100 TB pair graph starts distributed and typically crosses the
    * threshold after one or two rounds; pass `localFinishThreshold = 0`
    * to force pure distributed execution. */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
                          maxIter: Int = 25,
                          localFinishThreshold: Long = 2000000L)
      : DataFrame = {
    val spark = edges.sparkSession
    val canonEdges = canon(edges.select(src.cast("long").as("u"),
      dst.cast("long").as("v")))
    // Decide small-vs-large with persist + count, NOT a limit-collect:
    // CollectLimitExec executes incrementally (1 partition, then ×4,
    // ×16, …), and each widening attempt re-runs the reduce stage of
    // whatever expensive pair kernel produced the edges — measured 2-7 s
    // of pure re-execution jitter on a 445k-edge graph. One count on the
    // persisted frame evaluates the kernel exactly once; the collect
    // (small case) and the loop's first checksum (large case) both read
    // the cached blocks.
    // persist-ok: both branches below unpersist it
    val cached = canonEdges.persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = cached.count()
    if (localFinishThreshold > 0L && edgeCount <= localFinishThreshold)
      graft.util.Release.scoped(spark) {
        val labels = collectLabels(cached)
        cached.unpersist(blocking = false)
        labels
      }
    else graft.util.Release.scoped(spark) {
    var e = cached
    // fixpoint detection on an order-independent checksum of the edge
    // set — one tiny action per round on the already-persisted frame
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)).as("c"),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var prevSum = checksum(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter &&
        prevSum._1 > localFinishThreshold) {
      // localCheckpoint cuts lineage per round (the plan would
      // otherwise grow geometrically — each round references the
      // previous plan several times)
      val next = graft.util.Release.persist(
        smallStar(largeStar(e)).localCheckpoint(false))
      val nextSum = checksum(next)
      e.unpersist(false)
      e = next
      converged = nextSum == prevSum
      prevSum = nextSum
      it += 1
    }
    val labels =
      if (converged) {
        // fixpoint = forest of depth-1 stars rooted at each component min
        e.select(col("v").as("id"), col("u").as("component"))
          .unionAll(e.select(col("u").as("id"), col("u").as("component"))
            .distinct())
      } else if (prevSum._1 <= localFinishThreshold) {
        // local finish: collect the shrunken edge set, union-find
        collectLabels(e)
      } else throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds")
    labels
    // Release.scoped materializes the labels (so callers can scan them
    // repeatedly) and frees the edge cache + every per-round
    // localCheckpoint block the loop left behind. Callers that are
    // done with the labels free them with Release.free.
    }
  }

  /** Union-find over long ids (path compression, union by min) with
    * its parent pointers in one boxing-free [[graft.util.LongLongMap]].
    * Every endpoint gets an entry the first time it is seen (a root
    * maps to itself), so `size` counts distinct ids and the table
    * holds every id [[foreachRoot]] reports. Unions go by min, so a
    * root is its component's minimum id. Path compression only
    * rewrites keys that already exist, so the [[foreachRoot]] sweep
    * never resizes the table it walks. */
  private final class UnionFind(expected: Int) {
    private val parent = new graft.util.LongLongMap(expected)

    /** Distinct ids seen. */
    def size: Int = parent.size

    /** The root of `x` (an unseen `x` is its own), compressing the path
      * from `x` onto it. */
    private def find(x: Long): Long = {
      var r = x
      var p = parent.get(r, r)
      while (p != r) { r = p; p = parent.get(r, r) }
      var c = x
      while (c != r) {
        val nx = parent.get(c, c)
        if (nx != r) parent.put(c, r)
        c = nx
      }
      r
    }

    /** [[find]], keying a root to itself so an unseen id gets its
      * entry (a seen root is rewritten in place). */
    private def root(x: Long): Long = {
      val r = find(x)
      if (r == x) parent.put(x, x)
      r
    }

    def union(u: Long, v: Long): Unit = {
      val ru = root(u); val rv = root(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }

    /** f(id, root of id) for every id seen, in table order. */
    def foreachRoot(f: (Long, Long) => Unit): Unit =
      parent.foreachEntry((k, _) => f(k, find(k)))
  }

  /** Collect the (u, v) edge frame `e` to the driver and label it with
    * [[unionFindLabels]]. The rows unpack to primitive arrays at once,
    * so the union-find and the id dedup run boxing-free — the boxed
    * Row/tuple version cost multiple cold-JIT seconds at 445k edges. */
  private def collectLabels(e: DataFrame): DataFrame = {
    val rows = e.select(col("u"), col("v")).collect()
    val n = rows.length
    val us = new Array[Long](n); val vs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = rows(i); us(i) = r.getLong(0); vs(i) = r.getLong(1)
      i += 1
    }
    unionFindLabels(e.sparkSession, us, vs)
  }

  /** Driver-side union-find over an edge list → (id, component) frame,
    * one row per endpoint. Rows materialize only for the final (small)
    * label frame. */
  private def unionFindLabels(spark: org.apache.spark.sql.SparkSession,
                              us: Array[Long], vs: Array[Long])
      : DataFrame = {
    val uf = new UnionFind(math.min(us.length, 1 << 22))
    var i = 0
    while (i < us.length) { uf.union(us(i), vs(i)); i += 1 }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](uf.size)
    uf.foreachRoot((k, root) => rows.add(org.apache.spark.sql.Row(k, root)))
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Transitive duplicate clusters from a pair frame (as produced by
    * `TextOps.jaccardDupPairs`, `minHashDupPairs`,
    * `SimOps.cosineDupPairs`, …): `(id, component, csize)` for every
    * document involved in at least one duplicate pair. */
  def dupClusters(pairs: DataFrame, id1: Column, id2: Column,
                  maxIter: Int = 25): DataFrame = {
    // Contract partition-locally BEFORE connected components (r13):
    // duplicate-pair frames are clique-dense by construction (a c-doc
    // cluster emits ~c²/2 pairs, mostly inside one task), and the
    // spanning forest feeds CC ≤ c−1 edges per local clique instead.
    // Output-identical (GraphSpec pins fused ≡ unfused); measured 2.0×
    // at the sf10 rung (84 vs 168 s) and the CC barrier jitter drops
    // with the pair volume. General (non-clique) edge lists should
    // call connectedComponents directly.
    dupClustersFromEdges(localSpanningForest(pairs, id1, id2),
      col("u"), col("v"), maxIter)
  }

  /** Survivorship: drop every clustered document except its cluster's
    * minimum id (the canonical representative); unclustered documents
    * pass through.
    *
    * The anti-join strategy is left to AQE deliberately: at realistic
    * crawl dup-rates the loser set is 30-80 % of the corpus — forcing
    * `broadcast(losers)` (as an earlier revision did) would ship a
    * corpus-scale id list to every executor and OOM the driver. AQE
    * broadcasts when the measured size is under
    * `spark.sql.autoBroadcastJoinThreshold` and falls back to a
    * shuffled anti-join otherwise, which is exactly the right call at
    * both ends of the dup-rate spectrum. */
  def dedupByClusters(df: DataFrame, id: Column, pairs: DataFrame,
                      id1: Column, id2: Column): DataFrame = {
    // connectedComponents directly — survivorship only needs the labels,
    // so don't pay dupClusters' csize window on top. Same partition-
    // local contraction as dupClusters (labels are identical on the
    // forest; only the CC input volume shrinks).
    val losers = connectedComponents(
        localSpanningForest(pairs, id1, id2), col("u"), col("v"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("_loser"))
    df.join(losers, id.cast("long") === col("_loser"), "left_anti")
  }

  /** Transitive clusters from PRE-CONTRACTED edge state (r15): the
    * incremental-clustering composition. [[localSpanningForest]]
    * outputs are persistable state (≤ one (root, node) row per
    * document ever seen in a pair); a daily snapshot appends the
    * forest of its incremental pair sweep, and clusters over
    * `forest_old ∪ forest_inc` equal [[dupClusters]] over the full
    * pair set exactly (a spanning forest of each subset preserves the
    * subset's connectivity, and connectivity of a union is determined
    * by the union of connectivities; cluster labels are component
    * MINIMA, so they are stable under re-derivation). CC must still
    * run over the union — a new edge can merge two old clusters, so
    * labels are not incrementally patchable — but its input is
    * O(dup mass), never O(pairs) and never O(corpus)
    * (docs/INCREMENTAL.md; the q_incremental_clusters oracle pins the
    * equivalence). Output schema matches [[dupClusters]]:
    * (id, component, csize). */
  def dupClustersFromEdges(edges: DataFrame, src: Column, dst: Column,
                           maxIter: Int = 25): DataFrame = {
    val cc = connectedComponents(edges, src, dst, maxIter)
    // csize via a window on the labels frame: one shuffle on component,
    // no aggregate-then-join round trip. Materialize the (small)
    // cluster table, then drop the label blocks connectedComponents
    // left resident — the call is self-cleaning.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    val out = graft.util.Release.scoped(edges.sparkSession) {
      cc.select(col("id"), col("component"),
        count(lit(1)).over(w).as("csize"))
    }
    graft.util.Release.free(cc)
    out
  }

  /** Survivorship with a caller-chosen QUALITY policy (r15): keep,
    * per duplicate cluster, the row maximizing `score` (ties → lowest
    * id — deterministic and oracle-replayable) instead of
    * [[dedupByClusters]]' minimum-id canonical representative.
    * Real curation pipelines keep the longest / highest-quality /
    * newest variant of a duplicate cluster — pass `n_chars`, a
    * quality score, or a timestamp. Unclustered rows pass through.
    *
    * Scale shape: same contraction + CC as the other funnels; the
    * policy is ONE window (`row_number` over the cluster key) on the
    * labeled frame — a single hash shuffle on `component`, where
    * unclustered rows ride their own id as a singleton key (no
    * all-rows-one-partition degenerate window). */
  def dedupByClustersKeepBest(df: DataFrame, id: Column,
                              pairs: DataFrame, id1: Column,
                              id2: Column, score: Column): DataFrame = {
    val cc = connectedComponents(
      localSpanningForest(pairs, id1, id2), col("u"), col("v"))
    val labels = cc.select(col("id").as("__kb_id"),
      col("component").as("__kb_comp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__kb_key"))
      .orderBy(score.desc, id.cast("long").asc)
    val out = graft.util.Release.scoped(df.sparkSession) {
      df.join(labels, id.cast("long") === col("__kb_id"), "left")
        .withColumn("__kb_key",
          coalesce(col("__kb_comp"), id.cast("long")))
        .withColumn("__kb_rn", row_number().over(w))
        .filter(col("__kb_rn") === 1)
        .drop("__kb_id", "__kb_comp", "__kb_key", "__kb_rn")
    }
    graft.util.Release.free(cc)
    out
  }

  /** Partition-local spanning forest of a pair frame: each task runs a
    * boxing-free union-find over ITS pairs and emits one (root, node)
    * edge per non-root node — replacing the task's edge set by a
    * spanning forest of its local components. Global connectivity is
    * preserved exactly (a spanning forest of each partition's subgraph
    * connects everything the partition's edges connected), so
    * connected components over the contracted frame equal components
    * over the original.
    *
    * Why: dense duplicate clusters emit pairs quadratically — a c-doc
    * clique produces c·(c−1)/2 pairs, and the pair kernels emit a
    * cluster's pairs mostly inside ONE task (triangle buckets and
    * prefix verify groups are block-local). Contracting before the
    * first shuffle turns c²/2 rows into ≤ c−1 rows while they are
    * still partition-local — at the r12 sf10 sweep shape the prefix
    * leg's 44.5M verified pairs entered clustering through a full
    * shuffle; the funnel's first large-star round now reads the
    * contracted forest instead. Per-task state is one long→long map
    * over the task's distinct ids — bounded by the pair kernels' own
    * task sizing (~3k-doc triangle buckets / shuffle-partition-sized
    * verify groups). */
  def localSpanningForest(pairs: DataFrame, id1: Column,
                          id2: Column): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // resolve the cap on the DRIVER and capture it into the closure:
    // executors in multi-JVM mode (local-cluster / a real cluster) do
    // not see driver -D properties, so an executor-side getLong would
    // ignore the documented remedy
    val idCap = java.lang.Long.getLong("graft.maxForestIds", 8000000L)
    pairs.select(id1.cast("long"), id2.cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new UnionFind(1 << 10)
        // Per-task distinct-id budget (17 B per table slot, 2–4 slots
        // per id; driver-resolved `idCap` above): a sparse
        // many-distinct-id partition would otherwise OOM the executor
        // silently. Loud fail with the remedy instead (docs/CAPS.md,
        // -Dgraft.maxForestIds).
        while (it.hasNext) {
          val (u, v) = it.next()
          // self-pairs dropped here EXACTLY as connectedComponents'
          // canon does (u =!= v filter) — a node whose only edges are
          // self-pairs surfaces in neither the contracted nor the
          // uncontracted path, so the two stay output-identical on
          // arbitrary caller-supplied pair frames
          if (u != v) {
            uf.union(u, v)
            if (uf.size > idCap)
              throw new IllegalStateException(
                s"localSpanningForest: more than $idCap distinct ids " +
                  "in one task's pair partition — the per-task " +
                  "union-find would exhaust executor memory. " +
                  "Repartition the pair frame into more partitions or " +
                  "raise -Dgraft.maxForestIds (docs/CAPS.md).")
          }
        }
        val out = Array.newBuilder[(Long, Long)]
        uf.foreachRoot { (k, r) => if (r != k) out += ((r, k)) }
        out.result().iterator
      }
      .toDF("u", "v")
  }

  /** Fused dedup funnel: n-gram Jaccard pairs → partition-local
    * spanning-forest contraction → transitive clusters, in one call —
    * the common 100 TB shape where the caller never needs the raw pair
    * frame. Parameters pass through to
    * [[graft.text.TextOps.jaccardDupPairs]] (hybrid triangle/prefix
    * routing included); output schema matches [[dupClusters]]:
    * (id, component, csize) for every document in ≥ 1 duplicate pair. */
  def dupClustersFromJaccard(df: DataFrame, id: Column, text: Column,
                             block: Column, threshold: Double,
                             subBlocks: Int = 4, shingleK: Int = 1,
                             routeThreshold: Long = 50000L,
                             maxIter: Int = 25): DataFrame = {
    val pairs = graft.text.TextOps.jaccardDupPairs(df, id, text, block,
      threshold, subBlocks, shingleK, routeThreshold)
    // dupClusters contracts partition-locally itself (r13), so the
    // funnel is just composition — kept as the one-call API
    dupClusters(pairs, col("id1"), col("id2"), maxIter)
  }
}
