package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Three paths, same API shape:
  *  - [[cosineTopK]]: exact brute force — the queries broadcast, the
  *    corpus streams once ([[VectorTopK]]). The correctness baseline.
  *  - [[lshCosineTopK]]: random-hyperplane LSH bucketing — candidates
  *    only meet inside a bucket, so cost scales as Σ bucket² rather than
  *    n².
  *  - [[ivfCosineTopK]]: inverted-file index — spherical k-means on a
  *    sample picks centroids; the corpus shuffles ONCE on its nearest
  *    cell and each query probes only its nProbe nearest cells. The
  *    100 TB path when the corpus no longer fits LSH bucket skew;
  *    recall measured against the exact baseline in TextSimSpec.
  */
object SimOps {

  /** Cosine similarity between two array<double> columns — a native
    * codegen expression ([[org.apache.spark.sql.graft.ArrayCosineSim]]),
    * arithmetic- and null-identical to the historical zip_with +
    * aggregate Column algebra (NativeExprSpec pins the parity) but one
    * fused primitive loop per pair instead of a product-array
    * allocation + lambda frames: the verify leg over ~20M LSH candidate
    * pairs dropped measurably at the sf10 sweep rung. Float arrays are
    * widened to double BEFORE the multiply (implicit cast). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.cosineSimNative(a, b)

  /** Exact top-k nearest neighbours by cosine for each query vector.
    * `queries`/`corpus`: (id, vec). Self-matches excluded.
    *
    * REQUIREMENT: the query frame is collected and broadcast (that is
    * what keeps the corpus side a single zero-shuffle pass) — at most
    * `queryCap` rows; fails fast with a clear message rather than
    * OOMing the driver. The default budgets ~50 MB of broadcast at
    * d=64 (raise it explicitly with driver/executor heap to match —
    * at d=768 each 100k queries cost ~600 MB). The corpus side is
    * unbounded. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 queryCap: Long = 100000L): DataFrame = {
    // The shuffle is |queries|·k·partitions candidate rows instead of
    // |queries|·|corpus| joined rows. The arithmetic (sequential dot,
    // then dot/sqrt(na·nb)) matches the Column-algebra form bit-for-bit.
    val qs = VectorTopK.collectQueries(queries, queryCap, "cosineTopK")
    val state = (qs.map(_._2), qs.map(q => VectorTopK.norm2(q._2)))
    val top = VectorTopK.scan(VectorTopK.vectors(corpus), qs.map(_._1),
        state, k, "cos") { case (qv, qn) => (r, heaps) =>
      val cv = VectorTopK.corpusVec(r, qv(0).length, "cosineTopK")
      val nc = VectorTopK.norm2(cv)
      var qi = 0
      while (qi < qv.length) {
        heaps.report(qi, VectorTopK.dot(qv(qi), cv) / math.sqrt(qn(qi) * nc))
        qi += 1
      }
    }
    VectorTopK.topKPerQuery(top, "cos", k)
  }

  /** Exact cosine THRESHOLD join: every (query, corpus) pair with
    * cos ≥ threshold — the brute-force exact baseline for
    * [[cosineDupPairs]] (and a similarity join in its own right for
    * corpora small enough to scan). Queries are collected and
    * broadcast (capped, fail-loud), then ONE zero-shuffle pass over
    * the corpus with fused primitive-array dots; the output is only
    * the surviving pairs. Self-matches excluded. */
  def cosineThresholdJoin(queries: DataFrame, corpus: DataFrame,
                          threshold: Double,
                          queryCap: Long = 100000L): DataFrame = {
    val spark = queries.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bcQ = {
      val qs = VectorTopK.collectQueries(queries, queryCap,
        "cosineThresholdJoin")
      spark.sparkContext.broadcast((qs, qs.map(q => VectorTopK.norm2(q._2))))
    }
    val hits = VectorTopK.vectors(corpus).rdd.mapPartitions { it =>
      val (qs, qn) = bcQ.value
      if (qs.isEmpty) Iterator.empty
      else it.flatMap { r =>
        val cid = r.getLong(0)
        val cv = VectorTopK.corpusVec(r, qs(0)._2.length,
          "cosineThresholdJoin")
        val nc = VectorTopK.norm2(cv)
        qs.indices.iterator.flatMap { qi =>
          val (qid, qv) = qs(qi)
          if (qid == cid) Iterator.empty
          else {
            val cos = VectorTopK.dot(qv, cv) / math.sqrt(qn(qi) * nc)
            if (cos >= threshold) Iterator.single(Row(qid, cid, cos))
            else Iterator.empty
          }
        }
      }
    }
    spark.createDataFrame(hits, StructType(Seq(
      StructField("qid", LongType), StructField("cid", LongType),
      StructField("cos", DoubleType))))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) —
    * a splitmix64 avalanche mapped to (-1, 1). No RNG state, so executors
    * regenerate identical planes with zero coordination. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    var h = plane.toLong * 0x9e3779b97f4a7c15L + dim.toLong
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^= (h >>> 31)
    (h.toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane signature: `nPlanes` sign bits packed in a long.
    * Vectors with equal signatures land in the same bucket. `salt`
    * selects a disjoint plane family (plane indices salt·64 + p) so
    * multi-table LSH draws INDEPENDENT tables — nested tables (e.g.
    * table t = table 0's planes plus one more) would never amplify
    * recall, because the widest table agreeing implies all others do. */
  def hyperplaneSig(vec: Column, nPlanes: Int = 16, salt: Int = 0)
      : Column = {
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        // Seq[Double] udf params deserialize as immutable List on
        // Scala 2.13 (O(i) apply, O(n) length) — copy to a primitive
        // array ONCE so the plane loops stay O(dim) per plane
        val a = v.toArray
        var sig = 0L
        var p = 0
        while (p < nPlanes) {
          var dot = 0.0
          var i = 0
          while (i < a.length) {
            dot += a(i) * planeComponent(salt * 64 + p, i); i += 1
          }
          if (dot > 0) sig |= (1L << p)
          p += 1
        }
        java.lang.Long.valueOf(sig)
      }
    }
    f(vec.cast("array<double>"))
  }

  /** Approximate top-k: bucket by hyperplane signature (optionally probe
    * neighbouring buckets via multi-table repetition), exact cosine
    * within buckets. `tables` independent hash tables raise recall. */
  def lshCosineTopK(df: DataFrame, k: Int, nPlanes: Int = 12,
                    tables: Int = 4): DataFrame =
      graft.util.Release.scoped(df.sparkSession) {
    val base = df.select(col("id"), col("vec"))
    // persist: the self-join scans this twice; without it both sides
    // recompute every hyperplane signature (nPlanes × dim flops/row)
    val tabbed = graft.util.Release.persist((0 until tables).map { t =>
      base.withColumn("tbl", lit(t))
        .withColumn("sig", hyperplaneSig(col("vec"), nPlanes, salt = t))
    }.reduce(_ unionByName _))
    val l = tabbed.as("l")
    val r = tabbed.as("r")
    // cosine computed inside the join row so the cross-table dedup
    // shuffles (qid, cid, cos) — never the embedding vectors; a pair
    // found by t tables costs t dot products instead of t shuffled
    // vector copies
    val cand = l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.sig") === col("r.sig") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("qid"), col("r.id").as("cid"),
        cosine(col("l.vec"), col("r.vec")).as("cos"))
      .distinct()
    VectorTopK.topKPerQuery(cand, "cos", k)
  }  // Release.scoped: top-k result materialized, signature cache freed

  /** Embedding near-duplicate pairs: cosine ≥ threshold via LSH buckets
    * (exact verify inside bucket). */
  def cosineDupPairs(df: DataFrame, threshold: Double, nPlanes: Int = 12,
                     tables: Int = 4,
                     blocking: Option[Column] = None): DataFrame =
      graft.util.Release.scoped(df.sparkSession) {
    // `blocking` (r15 — dedup-family parity): optional partition
    // column (language, modality, shard); pairs never cross blocks
    // and bucket occupancy divides across blocks. Each (table,
    // signature) bucket is a (b, h) band of the shared
    // [[graft.text.BandJoin]] sweep.
    val base = df.select(col("id").as("i"), col("vec"),
      graft.text.BandJoin.blockKey(blocking))
    // persist: self-join scans twice (see lshCosineTopK)
    val tabbed = graft.util.Release.persist((0 until tables).map { t =>
      base.withColumn("b", lit(t))
        .withColumn("h", hyperplaneSig(col("vec"), nPlanes, salt = t))
    }.reduce(_ unionByName _))
    // cosine + threshold filter before the dedup: the distinct shuffles
    // only surviving narrow rows, never the embedding vectors
    graft.text.BandJoin.candidates(tabbed, tabbed, None,
        cosine(col("l.vec"), col("r.vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }  // Release.scoped: pair result materialized, signature cache freed

  // ---- SemDeDup --------------------------------------------------------

  /** SemDeDup semantic near-duplicate PAIRS (Abbas et al. 2023,
    * arXiv:2303.09540 — "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): cluster the embedding space with
    * the same deterministic spherical k-means that trains the IVF index,
    * then report every pair with exact cosine ≥ `threshold` WITHIN a
    * cluster. Cross-cluster pairs are the method's documented miss class
    * (the paper dedups inside clusters only); `nCells = 1` degenerates
    * to the exact all-pairs semantics, which is what the correctness
    * oracle replays, and recall of the clustered path vs that exact twin
    * is contract-gated like the ANN queries.
    *
    * Scale shape: centroids train on a bounded driver sample and
    * broadcast; each vector computes its cell map-side, and the
    * cell-local quadratic is spread over triangle sub-blocks exactly
    * like [[TextOps.jaccardDupPairs]] — every pair examined in exactly
    * one bucket, per-task memory dropping ~subBlocks-fold, an explicit
    * repartition keeping the compute-bound stage wide under AQE, and a
    * loud `bucketCap` instead of a silent OOM. Returns (id1, id2, cos),
    * id1 < id2. */
  def semanticDupPairs(df: DataFrame, id: Column, vec: Column,
                       threshold: Double, nCells: Int = 16,
                       subBlocks: Int = 2, sampleCap: Int = 20000,
                       kmeansIter: Int = 8, bucketCap: Int = 100000,
                       nAssign: Int = 1)
      : DataFrame = {
    require(nCells >= 1, s"semanticDupPairs: nCells must be >= 1")
    require(subBlocks >= 1, s"semanticDupPairs: subBlocks must be >= 1")
    require(nAssign >= 1 && nAssign <= nCells,
      s"semanticDupPairs: nAssign must be in [1, nCells], got $nAssign")
    val spark = df.sparkSession
    val base = df.select(id.cast("long").as("id"),
      vec.cast("array<double>").as("vec"))
    // nCells == 1 (the exact all-pairs twin semantics): every vector
    // lands in the single cell, so the IVF index build — a driver
    // sample collect + spherical k-means + centroid broadcast per
    // call — computes nothing the assignment needs. Skip it (r17);
    // output identical by construction.
    def withCell(d: DataFrame): DataFrame =
      // null-vec rows must still drop, exactly like the udf path
      // (null assignment array -> explode eliminates the row)
      if (nCells == 1) d.withColumn("cell",
        explode(when(col("vec").isNotNull, array(lit(0)))))
      else {
        val idx = buildIvfIndex(base, nCells, sampleCap, kmeansIter)
        val bc = spark.sparkContext.broadcast(idx.centroids)
        // soft assignment (IVF-nProbe analog): replicating each vector
        // to its nAssign nearest cells recovers near-threshold pairs
        // that straddle a cell boundary — the dominant miss class when
        // the dedup threshold sits in the weak-similarity regime. Work
        // scales ~nAssign per vector (pairs that meet in several
        // shared cells dedupe below).
        val cellOf = nearestCellsUdf(bc, nAssign)
        d.withColumn("cell", explode(cellOf(col("vec"))))
      }
    val cap = bucketCap
    val pairUdf = udf { (docs: Seq[org.apache.spark.sql.Row],
                         ga: Int, gb: Int, t: Double) =>
      val n = docs.length
      require(n <= cap,
        s"semanticDupPairs: bucket of $n vectors exceeds bucketCap=" +
          s"$cap; raise subBlocks or nCells")
      val ids = new Array[Long](n)
      val grp = new Array[Int](n)
      val vs = new Array[Array[Double]](n)
      var i = 0
      // iterate (never index) the docs Seq — it's a List at udf call
      // sites, where docs(i) would cost O(i) per access
      val docIt = docs.iterator
      while (i < n) {
        val r = docIt.next()
        ids(i) = r.getLong(0); grp(i) = r.getInt(1)
        val a = r.getSeq[Double](2).toArray
        var q = 0; var ss = 0.0
        while (q < a.length) { val x = a(q); ss += x * x; q += 1 }
        val nm = math.sqrt(ss)
        if (nm > 0) { q = 0; while (q < a.length) { a(q) /= nm; q += 1 } }
        vs(i) = a
        i += 1
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      def compare(i: Int, j: Int): Unit = {
        val x = vs(i); val y = vs(j)
        val len = math.min(x.length, y.length)
        var d = 0.0; var q = 0
        while (q < len) { d += x(q) * y(q); q += 1 }
        if (d >= t) {
          val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j))
          else (ids(j), ids(i))
          out += ((a, b, d))
        }
      }
      if (ga == gb) {
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) { compare(i, j); j += 1 }
          i += 1
        }
      } else {
        val ia = Array.newBuilder[Int]; val ib = Array.newBuilder[Int]
        i = 0
        while (i < n) {
          if (grp(i) == ga) ia += i else ib += i
          i += 1
        }
        val aIdx = ia.result(); val bIdx = ib.result()
        var p = 0
        while (p < aIdx.length) {
          var q = 0
          while (q < bIdx.length) { compare(aIdx(p), bIdx(q)); q += 1 }
          p += 1
        }
      }
      out.result()
    }
    val assigned = withCell(base)
      .withColumn("g", pmod(hash(col("id")), lit(subBlocks)).cast("int"))
    val buckets = assigned.select(col("cell"), col("id"), col("g"),
      col("vec"),
      explode(array((0 until subBlocks).map(x =>
        struct(least(col("g"), lit(x)).as("a"),
          greatest(col("g"), lit(x)).as("b"))): _*)).as("bk"))
    buckets
      .repartition(spark.sparkContext.defaultParallelism,
        col("cell"), col("bk"))
      .groupBy(col("cell"), col("bk"))
      .agg(collect_list(struct(col("id"), col("g"), col("vec")))
        .as("docs"))
      .select(explode(pairUdf(col("docs"), col("bk.a"), col("bk.b"),
        lit(threshold))).as("p"))
      .select(col("p._1").as("id1"), col("p._2").as("id2"),
        col("p._3").as("cos"))
      // a pair can meet in up to nAssign shared cells; cos is computed
      // from the same two vectors every time, so plain distinct dedupes
      .distinct()
  }

  /** SemDeDup survivorship: drop every semantic near-duplicate except
    * its duplicate-group minimum id (transitive closure over the pair
    * graph, exactly the clustering+survivor path the text dedups use).
    * Unclustered rows pass through untouched. */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
                    threshold: Double, nCells: Int = 16,
                    subBlocks: Int = 2, sampleCap: Int = 20000,
                    kmeansIter: Int = 8): DataFrame = {
    val pairs = semanticDupPairs(df, id, vec, threshold, nCells,
      subBlocks, sampleCap, kmeansIter)
    graft.graph.GraphOps.dedupByClusters(df, id, pairs,
      col("id1"), col("id2"))
  }

  // ---- IVF -------------------------------------------------------------

  /** Spherical k-means on the driver over a (small) sample: unit-
    * normalize, assign by max dot product, re-center, re-normalize.
    * Deterministic — evenly spaced sorted-sample init, fixed iteration
    * count, no RNG. Returns unit centroids. */
  private[graft] def sphericalKMeans(sample: Array[Array[Double]],
                                   nCells: Int, iters: Int)
      : Array[Array[Double]] = {
    require(sample.nonEmpty, "ivf: empty centroid sample")
    val dim = sample(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < dim) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    val kk = math.min(nCells, unit.length)
    // evenly spaced init over the sorted-by-id sample
    var centroids = Array.tabulate(kk)(c => unit(c * unit.length / kk))
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val cnt = new Array[Int](kk)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < kk) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * centroids(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnt(best) += 1
      }
      centroids = Array.tabulate(kk)(c =>
        if (cnt(c) == 0) centroids(c) // keep empty cells stable
        else normalize(sums(c)))
      it += 1
    }
    centroids
  }

  /** The `n` cells nearest `v` against unit centroids, nearest first,
    * ties toward the lower cell id (cosine order = dot order after
    * normalizing the query side's norm out — dot with unit centroids
    * ranks identically). */
  private def nearestCells(cents: Array[Array[Double]], v: Array[Double],
                           n: Int): Array[Int] =
    cents.map(c => VectorTopK.dot(c, v)).zipWithIndex
      .sortBy { case (d, i) => (-d, i) }.take(n).map(_._2)

  /** [[nearestCells]] as a UDF over broadcast centroids. */
  private def nearestCellsUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      n: Int) =
    udf { (v: Seq[Double]) =>
      // List-typed udf param: primitive copy once, O(1) indexing after
      // (the previous v(i) loop was O(dim²) list traversal per
      // centroid and serialized the whole assignment stage — the
      // dominant cost of the sf10 SemDeDup sweep rung)
      if (v == null) null else nearestCells(bc.value, v.toArray, n)
    }

  /** IVF approximate top-k by cosine. Index build: spherical k-means
    * over a deterministic corpus sample (first `sampleCap` ids — at
    * real scale pass a hash-sampled frame instead); the corpus then
    * shuffles ONCE on its nearest-centroid cell. Query: each query
    * probes its `nProbe` nearest cells (explode → nProbe-fold query
    * replication, queries ≪ corpus), exact cosine inside probed cells,
    * window top-k. Misses only neighbours whose cell the query didn't
    * probe — recall vs the exact baseline is spec-gated.
    *
    * REQUIREMENT: the `queries` frame is collected to the driver and
    * broadcast (that is what makes the corpus side a single
    * zero-shuffle streaming pass), so it must fit on the driver —
    * at most `queryCap` rows (default 1,000,000; raise it explicitly
    * if your driver heap allows). The call fails fast with a clear
    * message rather than OOMing mid-collect. The corpus side is
    * unbounded. */
  def ivfCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    nCells: Int = 16, nProbe: Int = 4,
                    sampleCap: Int = 20000, kmeansIter: Int = 8,
                    queryCap: Long = 1000000L)
      : DataFrame = {
    val idx = buildIvfIndex(corpus, nCells, sampleCap, kmeansIter)
    val qs = VectorTopK.collectQueries(queries, queryCap, "ivfCosineTopK",
      idx.dim)
    ivfSearch(qs, corpus, k, idx.centroids,
      qs.map(q => nearestCells(idx.centroids, q._2, nProbe)),
      "ivfCosineTopK")
  }

  /** A trained IVF index: L2-normalized cell centroids. Train once on
    * a corpus sample ([[buildIvfIndex]]), persist ([[saveIvfIndex]]),
    * and reuse across sessions/queries — retraining spherical k-means
    * per query batch is wasted work and, worse, changes cell
    * boundaries between runs. */
  case class IvfIndex(centroids: Array[Array[Double]]) {
    def nCells: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length
  }

  /** Train an IVF index over a deterministic corpus sample (first
    * `sampleCap` ids; at real scale pass a hash-sampled frame). Rows
    * no search can return ([[VectorTopK.vectors]] drops them: a null
    * id or vector, a null element) are skipped. */
  def buildIvfIndex(corpus: DataFrame, nCells: Int = 16,
                    sampleCap: Int = 20000, kmeansIter: Int = 8)
      : IvfIndex = {
    val sample = VectorTopK.vectors(corpus)
      .orderBy(col("id")).limit(sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    IvfIndex(sphericalKMeans(sample, nCells, kmeansIter))
  }

  /** Persist / restore an index as a tiny (cell, centroid) parquet. */
  def saveIvfIndex(idx: IvfIndex, spark: SparkSession,
                   path: String): Unit = {
    import spark.implicits._
    idx.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(spark.read.parquet(path).orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray))

  /** Nearest-centroid cell id for one vector (max dot product, ties
    * toward the lower cell id — matching the search kernel). */
  private def nearestCell(cents: Array[Array[Double]],
                          v: Array[Double]): Int = {
    var bestC = 0; var bestD = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val dot = VectorTopK.dot(v, cents(c))
      if (dot > bestD) { bestD = dot; bestC = c }
      c += 1
    }
    bestC
  }

  /** [[nearestCell]] as a UDF (List-typed input: copied once). */
  private def cellUdf(cents: Array[Array[Double]]) =
    udf((v: Seq[Double]) => nearestCell(cents, v.toArray))

  /** Write the corpus Hive-partitioned by its IVF cell
    * (`path/cell=N/...`): the at-rest half of ANN at 100 TB. A later
    * [[ivfCosineTopKIndexed]] search reads ONLY the directories of
    * probed cells (directory pruning — unprobed cells cost zero IO),
    * so search IO scales with nProbe/nCells of the corpus, not its
    * size. */
  def writeIvfPartitioned(corpus: DataFrame, idx: IvfIndex,
                          path: String): Unit =
    writeCells(corpus, idx, path, "overwrite")

  /** Append a NEW vector batch into an existing cell-partitioned
    * corpus (from [[writeIvfPartitioned]]) — the ANN state-maintenance
    * leg of the daily-crawl loop (r15), twin of the incremental
    * minhash/simhash/image band tables: cell assignment is a pure
    * function of the PERSISTED centroids, so appending lands each new
    * vector in exactly the cell a full rewrite would give it, and a
    * subsequent [[ivfCosineTopKIndexed]] search over the appended
    * corpus is IDENTICAL to one over a from-scratch rewrite of
    * corpus ∪ batch (q_incremental_ivf pins the equivalence). Corpus
    * text/vectors are never re-read or re-assigned; each batch adds
    * files inside the cell directories it touches. Vector ids must be
    * distinct across corpus and batches. Re-train + rewrite only when
    * drift degrades recall (centroids are FROZEN here by design —
    * that is what makes append ≡ rewrite exact). */
  def appendIvfPartitioned(newBatch: DataFrame, idx: IvfIndex,
                           path: String): Unit =
    writeCells(newBatch, idx, path, "append")

  /** The (id, vec, cell) rows of `df` written under `path` partitioned
    * by cell, in write `mode`. Only rows a search can return
    * ([[VectorTopK.vectors]]) get a cell. */
  private def writeCells(df: DataFrame, idx: IvfIndex, path: String,
                         mode: String): Unit = {
    val cellOf = cellUdf(idx.centroids)
    // Spread a single-split source BY CELL so the per-cell-directory
    // write parallelizes with each task holding whole cells — one file
    // per cell instead of (tasks × cells) small files (guide §6).
    // No-op at production split counts, where partitionBy's own
    // per-task dynamic partitioning is the right layout.
    graft.util.Spread.byKey(
        VectorTopK.vectors(df).select(col("id"), col("v").as("vec"))
          .withColumn("cell", cellOf(col("vec"))), col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** Search a cell-partitioned corpus with a persisted index: compute
    * the union of every query's `nProbe` probe cells, scan only those
    * partitions, and run the same fused kernel (per-query cell
    * restriction preserved, so results are IDENTICAL to
    * [[ivfCosineTopK]] with the same centroids — the pruning only
    * removes rows no query would score). */
  def ivfCosineTopKIndexed(queries: DataFrame, corpusPath: String,
                           idx: IvfIndex, k: Int, nProbe: Int = 4,
                           queryCap: Long = 1000000L): DataFrame = {
    val cents = idx.centroids
    // ONE capped collect serves both probe-cell pruning and the scan
    val qs = VectorTopK.collectQueries(queries, queryCap,
      "ivfCosineTopKIndexed", idx.dim)
    val probes = qs.map(q => nearestCells(cents, q._2, nProbe))
    val pruned = queries.sparkSession.read.parquet(corpusPath)
      .filter(col("cell").isin(probes.flatten.distinct.toSeq: _*))
    ivfSearch(qs, pruned, k, cents, probes, "ivfCosineTopKIndexed")
  }

  /** The IVF scan: each corpus row takes its nearest cell (dot with the
    * unit centroids) and is scored against only the queries whose
    * `probes` (per query, its nProbe nearest cells) include that cell.
    * The earlier join-then-Column-cosine formulation materialized
    * every (query, cell-member) vector pair and paid interpreted
    * higher-order-function arithmetic per pair — ~5-10× slower. */
  private def ivfSearch(qs: VectorTopK.Queries, corpus: DataFrame, k: Int,
                        cents: Array[Array[Double]],
                        probes: Array[Array[Int]], op: String)
      : DataFrame = {
    // cell → indices of the queries probing it
    val byCell: Array[Array[Int]] = {
      val buf = Array.fill(cents.length)(Array.newBuilder[Int])
      probes.zipWithIndex.foreach { case (cells, qi) =>
        cells.foreach(c => buf(c) += qi)
      }
      buf.map(_.result())
    }
    val state = (cents, qs.map(_._2), qs.map(q => VectorTopK.norm2(q._2)),
      byCell)
    val top = VectorTopK.scan(VectorTopK.vectors(corpus), qs.map(_._1),
        state, k, "cos") { case (cs, qv, qn, members) => (r, heaps) =>
      val cv = VectorTopK.corpusVec(r, qv(0).length, op)
      val nc = VectorTopK.norm2(cv)
      val probing = members(nearestCell(cs, cv))
      var m = 0
      while (m < probing.length) {
        val qi = probing(m)
        heaps.report(qi, VectorTopK.dot(qv(qi), cv) / math.sqrt(qn(qi) * nc))
        m += 1
      }
    }
    VectorTopK.topKPerQuery(top, "cos", k)
  }
}
