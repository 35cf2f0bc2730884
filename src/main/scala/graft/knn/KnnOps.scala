package graft.knn

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DataFrame-level KNN operators (SURVEY §2.10; reference
  * python/polars_ds/exprs/expr_knn.py + src/num_ext/knn.rs).
  *
  * Execution design: the reference builds one kd-tree over all rows and
  * queries it per row, single-machine. The Spark-native equivalent is
  * **collect reference points → build tree on driver → broadcast →
  * mapPartitions** so every executor queries its partition's rows
  * against the shared read-only tree — embarrassingly parallel, no
  * shuffle at all. Exact results; memory bound = tree size per
  * executor. For reference sets beyond executor heap, the approximate
  * path is LSH bucketing (graft.sim.SimOps.lshCosineTopK) with the same
  * shape.
  *
  * The reference's `data_mask` ("who can be a neighbor") filters the
  * tree build; `eval_mask` nulls out results for masked rows without
  * dropping them (both first-class params on [[knnPtwise]]).
  */
object KnnOps {

  /** Collect the reference frame and build the broadcast kd-tree once.
    * Queries that probe the SAME reference set through several ops
    * (kth-dist + ptwise + avg + counts…) should build here and pass
    * the tree via each op's `refTree` — the former per-op build paid
    * the driver collect + tree construction + broadcast once PER op
    * (r17; q_sx_knn_point carried five identical builds). The caller
    * owns consistency: the frame/id/features/metric handed here must
    * be the ones the op would have collected itself. */
  def buildRefTree(ref: DataFrame, id: Column, features: Seq[Column],
                   metric: String = "l2"): KdTree =
    collectTree(ref, id, features, metric)

  private def collectTree(ref: DataFrame, id: Column, features: Seq[Column],
                          metric: String): KdTree = {
    // na.drop BEFORE assembling the array: dropping on the array column
    // never fires (the array itself is non-null even when an element
    // is), and a null element would silently unbox to coordinate 0.0
    val fx = features.zipWithIndex.map { case (c, i) =>
      c.cast("double").as(s"_f$i") }
    // loud cap instead of a silent driver OOM: the broadcast-kd-tree
    // strategy needs the reference set on the driver (then on every
    // executor). Past this size, pre-filter/sample the reference or
    // use the LSH path (SimOps.lshCosineTopK), which never collects.
    // Override with -Dgraft.maxKnnRef (docs/CAPS.md).
    val cap = sys.props.get("graft.maxKnnRef").map(_.toInt)
      .getOrElse(10000000)
    // the cap must stay enforceable: past Int.MaxValue-9 the clamped
    // limit() below could silently truncate the fetch and the require
    // would never fire — refuse the configuration loudly instead
    require(cap.toLong + 1 <= Int.MaxValue - 8L,
      s"KnnOps: -Dgraft.maxKnnRef=$cap is too large to enforce (the " +
        "over-cap probe needs cap+1 rows through limit()); use a cap " +
        "below Int.MaxValue-9 or the LSH/IVF paths in graft.sim.SimOps.")
    val rows = ref
      .select(id.cast("long").as("_id") +: fx: _*)
      .na.drop()  // null rows are never neighbors (expr_knn.py:100 doc)
      .select(col("_id"),
        array(features.indices.map(i => col(s"_f$i")): _*).as("_f"))
      // Long-clamped fetch size: -Dgraft.maxKnnRef=Int.MaxValue must
      // fail the require with the cap message, not overflow limit()
      // into a negative AnalysisException
      .limit(math.min(cap.toLong + 1, Int.MaxValue - 8L).toInt)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(rows.length <= cap,
      s"KnnOps: reference set exceeds $cap rows — the broadcast kd-tree " +
        "must fit on the driver and every executor. Pre-filter the " +
        "reference frame or use the LSH/IVF paths in graft.sim.SimOps.")
    KdTree.build(rows, metric)
  }

  private def withQueried[T](df: DataFrame, id: Column,
                             features: Seq[Column], outSchema: Seq[StructField],
                             fn: (KdTree, Long, Array[Double]) => Seq[Any],
                             tree: KdTree,
                             evalMask: Option[Column] = None): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(tree)
    val withIn = df
      .withColumn("_qid", id.cast("long"))
      .withColumn("_qf", array(features.map(_.cast("double")): _*))
      // eval_mask (expr_knn.py:147): rows where false keep their place
      // in the frame but get null results — NOT a filter
      .withColumn("_qe", evalMask.getOrElse(lit(true)).cast("boolean"))
    val schema = StructType(withIn.schema.fields ++ outSchema)
    val (iQid, iQf, iQe) = (withIn.schema.fieldIndex("_qid"),
      withIn.schema.fieldIndex("_qf"), withIn.schema.fieldIndex("_qe"))
    val nOut = outSchema.length
    val out = withIn.rdd.mapPartitions { it =>
      val t = bc.value
      it.map { r =>
        // a row with a null id, a masked-out eval, or any null/NaN
        // feature gets null outputs (expr_knn.py:117: "Any row with a
        // null/NaN will never be a neighbor and will have null as its
        // neighbor") instead of querying the tree with garbage
        val qfRaw =
          if (r.isNullAt(iQf)) null
          else r.getAs[scala.collection.Seq[Any]](iQf)
        val evalOk = !r.isNullAt(iQe) && r.getBoolean(iQe) &&
          !r.isNullAt(iQid)
        val finite = qfRaw != null && qfRaw.forall {
          case d: java.lang.Double => !d.isNaN
          case null => false
          case _ => true
        }
        if (!evalOk || !finite)
          Row.fromSeq(r.toSeq ++ Seq.fill(nOut)(null))
        else {
          val qid = r.getLong(iQid)
          val qf = new Array[Double](qfRaw.length)
          var i = 0
          while (i < qf.length) {
            qf(i) = qfRaw(i).asInstanceOf[Double]; i += 1
          }
          Row.fromSeq(r.toSeq ++ fn(t, qid, qf))
        }
      }
    }
    spark.createDataFrame(out, schema).drop("_qid", "_qf", "_qe")
  }

  /** Per-row ids (and distances) of the k nearest neighbors, self
    * excluded by default. (expr_knn.py:100 query_knn_ptwise;
    * knn.rs:272,444)
    *
    * Reference-parity knobs:
    *  - `includeSelf=true` reproduces the reference's "k+1 neighbors
    *    including the point itself" contract (expr_knn.py:114-117):
    *    the tree is queried for k+1 with no self-exclusion, so the row
    *    appears in its own list unless `dataMask` removed it from the
    *    pool (then k+1 distinct others return, as the reference
    *    documents).
    *  - `evalMask`: rows where false stay in the frame with null
    *    results (never a filter).
    *  - `dataMask`: restricts who can BE a neighbor (filters the tree
    *    build only — masked rows are still evaluated). A given `refTree`
    *    is already built, so it cannot be combined with `dataMask`. */
  def knnPtwise(df: DataFrame, id: Column, features: Seq[Column], k: Int,
                metric: String = "l2", returnDist: Boolean = false,
                maxBound: Double = Double.PositiveInfinity,
                epsilon: Double = 0.0,
                includeSelf: Boolean = false,
                evalMask: Option[Column] = None,
                dataMask: Option[Column] = None,
                refTree: Option[KdTree] = None): DataFrame = {
    require(refTree.isEmpty || dataMask.isEmpty,
      "KnnOps.knnPtwise: dataMask filters the tree build and refTree is " +
        "already built; mask the frame given to buildRefTree instead")
    val tree = refTree.getOrElse {
      val pool = dataMask.map(df.filter).getOrElse(df)
      collectTree(pool, id, features, metric)
    }
    // user bounds arrive in the metric's REPORTED unit; the tree prunes
    // in raw units (squared for l2)
    val rawBound = toRaw(maxBound, metric)
    val fields =
      if (returnDist)
        Seq(StructField("knn_ids", ArrayType(LongType)),
          StructField("knn_dists", ArrayType(DoubleType)))
      else Seq(StructField("knn_ids", ArrayType(LongType)))
    withQueried(df, id, features, fields, (t, qid, qf) => {
      val nn =
        if (includeSelf) t.knn(qf, k + 1, maxBound = rawBound,
          epsilon = epsilon)
        else t.knn(qf, k, exclude = qid, maxBound = rawBound,
          epsilon = epsilon)
      if (returnDist) Seq(nn.map(_._1).toSeq, nn.map(p => t.report(p._2)).toSeq)
      else Seq(nn.map(_._1).toSeq)
    }, tree, evalMask)
  }

  /** KNN regression: mean of `target` over the k nearest neighbors.
    * Reference contract exactly (expr_knn.py:265 query_knn_avg;
    * kdt2.rs:367 knn_regress): the tree is queried for k+1 neighbors
    * INCLUDING the row itself, search bounded by `maxBound`; neighbors
    * closer than `minBound` — the row itself at distance 0 and any
    * exact duplicates — are then dropped from the average, so with the
    * defaults each row averages ≤ k true neighbors. When `weighted`,
    * weights are 1/d, or 1/(1+d) when minBound ≤ machine-ε since d=0
    * can then enter the average (KNNMethod::new, arkadia/mod.rs:129).
    * Bounds and weights use the metric's REPORTED unit (sql2 = squared
    * l2). Rows with null features never join the tree (keep_data mask,
    * expr_knn.py:318); a null target is out of contract upstream but
    * such rows are simply never averaged here. */
  def knnAvg(df: DataFrame, id: Column, features: Seq[Column],
             target: Column, k: Int, metric: String = "l2",
             weighted: Boolean = false, minBound: Double = 1e-9,
             maxBound: Double = 99999.0,
             refTree: Option[KdTree] = None): DataFrame = {
    val spark = df.sparkSession
    // the (id, target) map is driver-collected like the tree itself, so
    // it obeys the SAME loud cap, enforced BEFORE the collect via
    // limit(cap+1) — an over-cap frame must fail the require, not OOM
    // the driver on an unbounded collect (r12 verdict flaw #2)
    val cap = sys.props.get("graft.maxKnnRef").map(_.toInt)
      .getOrElse(10000000)
    // same enforceability guard as collectTree: a cap the clamped
    // limit() can't probe past must fail loudly, not truncate silently
    require(cap.toLong + 1 <= Int.MaxValue - 8L,
      s"KnnOps.knnAvg: -Dgraft.maxKnnRef=$cap is too large to " +
        "enforce (the over-cap probe needs cap+1 rows through " +
        "limit()); use a cap below Int.MaxValue-9 or the LSH/IVF " +
        "paths in graft.sim.SimOps.")
    val tRows = df.select(id.cast("long"), target.cast("double"))
      .na.drop()
      .limit(math.min(cap.toLong + 1, Int.MaxValue - 8L).toInt)
      .collect()
    require(tRows.length <= cap,
      s"KnnOps.knnAvg: target frame exceeds $cap rows — the broadcast " +
        "(id, target) map must fit on the driver and every executor. " +
        "Pre-filter the frame or use the LSH/IVF paths in graft.sim." +
        "SimOps (docs/CAPS.md, -Dgraft.maxKnnRef).")
    val targets = tRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bcT = spark.sparkContext.broadcast(targets)
    val tree = refTree.getOrElse(collectTree(df, id, features, metric))
    val rawBound = toRaw(maxBound, metric)
    val p1Weights = minBound <= 2.220446049250313e-16
    withQueried(df, id, features,
      Seq(StructField("knn_avg", DoubleType)), (t, qid, qf) => {
        val nn = t.knn(qf, k + 1, maxBound = rawBound)
        val tv = bcT.value
        val vals = nn.iterator
          .map { case (nid, raw) => (nid, t.report(raw)) }
          .filter { case (_, d) => d >= minBound }
          .flatMap { case (nid, d) => tv.get(nid).map(v => (v, d)) }
          .toArray
        if (vals.isEmpty) Seq(null)
        else if (weighted) {
          val w = vals.map { case (_, d) =>
            if (p1Weights) 1.0 / (1.0 + d) else 1.0 / d }
          Seq(vals.zip(w).map { case ((v, _), wi) => v * wi }.sum / w.sum)
        } else Seq(vals.map(_._1).sum / vals.length)
      }, tree)
  }

  /** Distance to the k-th nearest neighbor (self excluded) — the
    * density signal used for outlier detection. (expr_knn.py:52
    * query_dist_from_kth_nb; knn.rs:211) */
  def distFromKthNb(df: DataFrame, id: Column, features: Seq[Column],
                    k: Int, metric: String = "l2",
                    epsilon: Double = 0.0,
                    maxBound: Double = Double.PositiveInfinity,
                    refTree: Option[KdTree] = None)
      : DataFrame = {
    val tree = refTree.getOrElse(collectTree(df, id, features, metric))
    val rawBound = toRaw(maxBound, metric)
    withQueried(df, id, features,
      Seq(StructField("kth_dist", DoubleType)), (t, qid, qf) => {
        val nn = t.knn(qf, k, exclude = qid, maxBound = rawBound,
          epsilon = epsilon)
        Seq(if (nn.length < k) null else t.report(nn.last._2))
      }, tree)
  }

  /** User-unit → raw-unit distance bound: KdTree prunes on squared
    * distances for l2, identity for l1/sql2/inf. */
  @inline private def toRaw(bound: Double, metric: String): Double =
    if (metric == "l2") bound * bound else bound

  /** Ids within radius r of each row (self excluded), sorted by
    * (dist, id). r is in the metric's reported unit. (expr_knn.py:471
    * query_radius_ptwise; knn.rs:559)
    *
    * OUTPUT-SEMANTICS GUARD (docs/CAPS.md): a fixed radius over
    * densifying data grows each row's list with the LOCAL density, so
    * output volume can scale quadratically while input scales linearly
    * (measured ×24 rows per ×10 data on the uniform test corpus).
    * `maxNeighbors` bounds every list to the NEAREST n neighbors
    * (deterministic — rangeQuery returns (dist, id)-sorted results);
    * the default Int.MaxValue keeps the reference's unbounded
    * semantics. When only the neighborhood SIZE is needed, use
    * [[nbCnt]] — it never materializes the lists at all. */
  def radiusPtwise(df: DataFrame, id: Column, features: Seq[Column],
                   r: Double, metric: String = "l2",
                   includeSelf: Boolean = false,
                   maxNeighbors: Int = Int.MaxValue,
                   refTree: Option[KdTree] = None): DataFrame = {
    val raw = if (metric == "l2") r * r else r
    val tree = refTree.getOrElse(collectTree(df, id, features, metric))
    withQueried(df, id, features,
      Seq(StructField("radius_ids", ArrayType(LongType))), (t, qid, qf) =>
        // includeSelf reproduces the reference's lists, which carry the
        // row itself first (dist 0; test_many.py:1128 [[1,2],[2,1],[3]])
        Seq(t.rangeQuery(qf, raw,
          exclude = if (includeSelf) Long.MinValue else qid)
          .take(maxNeighbors).map(_._1).toSeq), tree)
  }

  /** Null-safe variant of [[radiusPtwise]] (expr_knn.py:528
    * query_radius_ptwise_null_safe): rows with any null feature are
    * excluded from the kd-tree (collectTree already drops them — they
    * can never be neighbors) and report a null `radius_ids` instead of
    * failing the job, matching the reference's contract. */
  def radiusPtwiseNullSafe(df: DataFrame, id: Column,
                           features: Seq[Column], r: Double,
                           metric: String = "l2",
                           includeSelf: Boolean = false,
                           maxNeighbors: Int = Int.MaxValue): DataFrame = {
    val raw = if (metric == "l2") r * r else r
    val tree = collectTree(df, id, features, metric)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(tree)
    val withIn = df
      .withColumn("_qid", id.cast("long"))
      .withColumn("_qf", array(features.map(_.cast("double")): _*))
    val schema = StructType(withIn.schema.fields :+
      StructField("radius_ids", ArrayType(LongType)))
    val out = withIn.rdd.mapPartitions { it =>
      val t = bc.value
      it.map { r0 =>
        val qf = r0.getAs[scala.collection.Seq[java.lang.Double]]("_qf")
        val res =
          if (qf == null || qf.exists(v => v == null || v.isNaN)) null
          else {
            val qid =
              if (includeSelf || r0.isNullAt(r0.fieldIndex("_qid")))
                Long.MinValue
              else r0.getAs[Long]("_qid")
            t.rangeQuery(qf.map(Double.unbox).toArray, raw,
              exclude = qid).take(maxNeighbors).map(_._1).toSeq
          }
        Row.fromSeq(r0.toSeq :+ res)
      }
    }
    spark.createDataFrame(out, schema).drop("_qid", "_qf")
  }

  /** Count of neighbors within radius r; `includeSelf=true` counts the
    * point itself like the reference ("a point is always its own
    * neighbor", test_many.py:1199). (expr_knn.py:601 query_nb_cnt;
    * knn.rs:767) */
  def nbCnt(df: DataFrame, id: Column, features: Seq[Column], r: Double,
            metric: String = "l2", includeSelf: Boolean = false,
            refTree: Option[KdTree] = None)
      : DataFrame = {
    val raw = if (metric == "l2") r * r else r
    val tree = refTree.getOrElse(collectTree(df, id, features, metric))
    withQueried(df, id, features,
      Seq(StructField("nb_cnt", IntegerType)), (t, qid, qf) =>
        Seq(t.countRange(qf, raw,
          exclude = if (includeSelf) Long.MinValue else qid)), tree)
  }

  /** How often each point appears among other points' k nearest
    * neighbors — knnPtwise → explode → count. (expr_knn.py:203
    * query_knn_freq_cnt) */
  def knnFreqCnt(df: DataFrame, id: Column, features: Seq[Column], k: Int,
                 metric: String = "l2",
                 maxBound: Double = Double.PositiveInfinity,
                 epsilon: Double = 0.0,
                 evalMask: Option[Column] = None,
                 dataMask: Option[Column] = None,
                 refTree: Option[KdTree] = None): DataFrame =
    knnPtwise(df, id, features, k, metric, maxBound = maxBound,
        epsilon = epsilon, evalMask = evalMask, dataMask = dataMask,
        refTree = refTree)
      .select(explode(col("knn_ids")).as("nb_id"))
      .groupBy(col("nb_id")).agg(count(lit(1)).as("freq"))

  /** Same for radius neighborhoods. (expr_knn.py:566
    * query_radius_freq_cnt) */
  def radiusFreqCnt(df: DataFrame, id: Column, features: Seq[Column],
                    r: Double, metric: String = "l2",
                    refTree: Option[KdTree] = None): DataFrame =
    radiusPtwise(df, id, features, r, metric, refTree = refTree)
      .select(explode(col("radius_ids")).as("nb_id"))
      .groupBy(col("nb_id")).agg(count(lit(1)).as("freq"))

  /** Bool: is the row within distance r of a fixed point? Pure column
    * math, no tree; metrics l1/l2/sql2/inf/cosine/haversine, matching
    * the reference's full list. (expr_knn.py:337 within_dist_from) */
  def withinDistFrom(features: Seq[Column], point: Seq[Double], r: Double,
                     metric: String = "l2"): Column = {
    lazy val diffs = features.zip(point).map { case (c, p) => c - lit(p) }
    val d = metric match {
      case "l1"   => diffs.map(abs).reduce(_ + _)
      case "inf"  => greatest(diffs.map(abs): _*)
      case "sql2" => diffs.map(c => c * c).reduce(_ + _)
      case "cosine" =>
        // cosine DISTANCE 1 - cos_sim to the fixed point
        val dot = features.zip(point)
          .map { case (c, p) => c * p }.reduce(_ + _)
        val nf = sqrt(features.map(c => c * c).reduce(_ + _))
        val np = math.sqrt(point.map(p => p * p).sum)
        lit(1.0) - dot / (nf * np)
      case "haversine" =>
        require(features.length == 2 && point.length == 2,
          "haversine needs (lat, lon)")
        graft.functions.NumFuncs.haversine(features(0), features(1),
          lit(point(0)), lit(point(1)))
      case _ => sqrt(diffs.map(c => c * c).reduce(_ + _))
    }
    d <= r
  }

  /** Bool: is the row among the k closest rows to a fixed point?
    * (expr_knn.py:404 is_knn_from)
    *
    * Distributed, no tree, no global window: the k-th smallest
    * `(distance, tieBreak)` pair is found with `orderBy(...).limit(k)`
    * (planned as TakeOrderedAndProject — per-partition top-k merged on
    * the driver, never a single-partition shuffle), broadcast back, and
    * each row compares lexicographically against it. With a unique
    * tieBreak this marks exactly k rows — identical to a global
    * `row_number <= k` but scale-safe. */
  def isKnnFrom(df: DataFrame, features: Seq[Column], point: Seq[Double],
                k: Int, tieBreak: Column, out: String = "is_knn",
                metric: String = "l2"): DataFrame = {
    val diffs = features.zip(point).map { case (c, p) => c - lit(p) }
    val d = metric match {
      case "l1"  => diffs.map(abs).reduce(_ + _)
      case "inf" => greatest(diffs.map(abs): _*)
      case "cosine" =>
        val dot = features.zip(point)
          .map { case (c, p) => c * p }.reduce(_ + _)
        val nf = sqrt(features.map(c => c * c).reduce(_ + _))
        val np = math.sqrt(point.map(p => p * p).sum)
        lit(1.0) - dot / (nf * np)
      case _     => diffs.map(c => c * c).reduce(_ + _) // sql2 ranks = l2 ranks
    }
    val withD = df.withColumn("_d", d)
    val kth = withD.select(struct(col("_d"), tieBreak).as("_kth"))
      .orderBy(col("_kth")).limit(k)
      .agg(max(col("_kth")).as("_kth"))
    withD.crossJoin(broadcast(kth))
      .withColumn(out,
        coalesce(struct(col("_d"), tieBreak) <= col("_kth"), lit(false)))
      .drop("_d", "_kth")
  }

  /** Cross-frame KNN join: one output row per (left row, one of its k
    * nearest right rows), with `nb_id`, `nb_dist` (metric units) and
    * `rk` (1-based, ties by smaller id) appended to the left columns —
    * the nearest-neighbor analogue of a left join. Right side is
    * collected into a broadcast kd-tree (exact; right must fit executor
    * memory — the same bound as any broadcast join); the left side
    * streams through mapPartitions with NO shuffle. Left rows with no
    * neighbor (empty right) survive with nulls. For a right side past
    * broadcast size, use the approximate paths
    * (`SimOps.lshCosineTopK` / `SimOps.ivfCosineTopK`). */
  def knnJoin(left: DataFrame, leftId: Column, leftFeats: Seq[Column],
              right: DataFrame, rightId: Column,
              rightFeats: Seq[Column], k: Int,
              metric: String = "l2"): DataFrame = {
    val tree = collectTree(right, rightId, rightFeats, metric)
    val fields = Seq(StructField("_nn", ArrayType(StructType(Seq(
      StructField("nb_id", LongType), StructField("nb_dist", DoubleType))))))
    withQueried(left, leftId, leftFeats, fields, (t, _, qf) => {
      // no self-exclusion across frames
      Seq(t.knn(qf, k).map { case (nid, d) =>
        Row(nid, t.report(d)) }.toSeq)
    }, tree)
      .select(col("*"),
        posexplode_outer(col("_nn")).as(Seq("_pos", "_nb")))
      .withColumn("rk", (col("_pos") + 1).cast("int"))
      .withColumn("nb_id", col("_nb.nb_id"))
      .withColumn("nb_dist", col("_nb.nb_dist"))
      .drop("_nn", "_pos", "_nb")
  }
}
