package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PageRank over an edge list — crawl-frontier
  * prioritization for web-scale corpus construction (which hosts to
  * crawl first, which to budget down). Beyond-the-reference operator;
  * pairs with [[LinkOps.hostGraph]].
  *
  * Scale shape (the classic iterative-join formulation, tuned for
  * Spark):
  *  - the normalized edge table is hash-repartitioned on the source
  *    key ONCE and persisted, so every iteration's join shuffles only
  *    the (node, rank) table — at 100 TB the edge table is the big
  *    side and it never moves again;
  *  - the per-iteration contribution aggregation is an algebraic
  *    `groupBy(sum)` — map-side partial aggregation collapses each
  *    task's contributions before the shuffle;
  *  - dangling-node mass needs a global scalar per iteration; the
  *    (common) no-dangling case is detected once up front so host
  *    graphs skip that extra job entirely;
  *  - lineage is cut with a lazy localCheckpoint per iteration (the
  *    plan would otherwise grow linearly and re-optimize every round);
  *    ranks are persisted and the previous iteration unpersisted.
  *
  * No `.collect()` of node-sized data: the only driver values are a
  * node count and (when dangling nodes exist) a per-iteration mass
  * scalar.
  */
object PageRankOps {

  /** PageRank with damping `d`: rank = (1-d)/N + d·(received + dm/N)
    * where dm is the total rank mass of dangling (no out-edge) nodes.
    * Multi-edges are coalesced by summing `weight` (default 1); each
    * node's outgoing probability is weight / total outgoing weight.
    * Returns (id, rank) with ranks summing to 1. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iterations: Int = 10, damping: Double = 0.85,
               weight: Option[Column] = None): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1")
    val w = weight.getOrElse(lit(1.0)).cast("double")
    // Spread a single-split edge source before the (often expensive —
    // q_pagerank parses HTML upstream) scan stage, and PERSIST the
    // coalesced edge table: out/trans/nodes/dangling all derive from
    // it, and unpersisted each branch would re-run the full upstream
    // lineage (the parse ran 3× per pageRank call).
    val e = graft.util.Spread.byKey(
        edges.select(src.cast("long").as("u"),
          dst.cast("long").as("v"), w.as("w"))
          .filter(col("u").isNotNull && col("v").isNotNull),
        col("u"), col("v"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      // persist-ok: unpersisted below, or by the catch
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every frame this op persists, unpersisted on EXCEPTION exits
    // (r16 ADVICE: a failure inside the iteration otherwise leaked
    // e/trans/nodes for the life of the session); normal exits keep
    // their documented residents (nodes + final ranks) and double
    // unpersist of the rest is a harmless no-op
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame](e)
    try {
    val out = e.groupBy(col("u")).agg(sum(col("w")).as("wout"))
    // transition probabilities, pre-partitioned on the join key and
    // persisted: the loop below joins this every iteration
    val trans = e.join(out, "u")
      .select(col("u"), col("v"), (col("w") / col("wout")).as("p"))
      .repartition(col("u"))
      // persist-ok: unpersisted below, or by the catch
      .persist(StorageLevel.MEMORY_AND_DISK)
    pinned += trans
    val nodes = e.select(col("u"))
      .unionAll(e.select(col("v").as("u")))
      .distinct()
      .select(col("u").as("id"))
      // persist-ok: the result's resident; Release.free(result)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pinned += nodes
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // Small-graph fast path: below `graft.maxLocalPagerank` edges
    // (default 2M — same bounded-driver-finish pattern as
    // GraphOps.connectedComponents), collect the normalized edges and
    // power-iterate on the driver. A 10-round distributed loop costs
    // ~60 scheduler stages of fixed overhead; on a host graph that
    // fits in memory that overhead IS the runtime (measured 25.7 s →
    // sub-second at sf0.1). Web-scale host graphs (10⁸ nodes) exceed
    // the cap and take the distributed loop below.
    val localCap = java.lang.Long.getLong("graft.maxLocalPagerank",
      2000000L)
    val mEdges = trans.count()
    if (mEdges <= localCap && n <= localCap) {
      val spark = edges.sparkSession
      val es = trans.select(col("u"), col("v"), col("p")).collect()
      val ids = nodes.select(col("id")).collect().map(_.getLong(0))
      val idx = ids.zipWithIndex.toMap
      val eu = new Array[Int](es.length)
      val ev = new Array[Int](es.length)
      val ep = new Array[Double](es.length)
      var i = 0
      while (i < es.length) {
        val r = es(i)
        eu(i) = idx(r.getLong(0)); ev(i) = idx(r.getLong(1))
        ep(i) = r.getDouble(2); i += 1
      }
      val hasOut = new Array[Boolean](ids.length)
      es.foreach(r => hasOut(idx(r.getLong(0))) = true)
      var rank = Array.fill(ids.length)(1.0 / n)
      var it = 0
      while (it < iterations) {
        var dm = 0.0
        var k = 0
        while (k < ids.length) {
          if (!hasOut(k)) dm += rank(k); k += 1
        }
        val recv = new Array[Double](ids.length)
        var j = 0
        while (j < es.length) {
          recv(ev(j)) += ep(j) * rank(eu(j)); j += 1
        }
        val base = (1.0 - damping) / n + damping * dm / n
        val next = new Array[Double](ids.length)
        k = 0
        while (k < ids.length) {
          next(k) = base + damping * recv(k); k += 1
        }
        rank = next
        it += 1
      }
      trans.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      val rows = ids.indices.map(k =>
        org.apache.spark.sql.Row(ids(k), rank(k)))
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
    }
    // dangling nodes = sinks (appear only as destinations); detect the
    // no-dangling case once so the loop can skip the per-iteration
    // mass job (host graphs rarely have true sinks)
    val danglingNodes = nodes.join(out, nodes("id") === out("u"),
      // persist-ok: unpersisted below, or by the catch
      "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    pinned += danglingNodes
    val hasDangling = danglingNodes.limit(1).count() > 0L
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
      // persist-ok: unpersisted next round; the last: Release.free(result)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pinned += ranks
    var it = 0
    while (it < iterations) {
      val received = trans.join(ranks, trans("u") === ranks("id"))
        .select(trans("v").as("id"), (col("p") * col("rank")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
      // Dangling mass folds into the SAME job as the rank update: the
      // 1-row aggregate rides a broadcast cross join instead of a
      // separate .head() action, so a dangling graph runs ONE job per
      // iteration, not two (r12 verdict #3 — each extra action is an
      // extra full scheduler barrier per round, and the barrier count
      // is what the sf10 probe's run-to-run jitter multiplies).
      // Arithmetic order matches the historical driver-side formula
      // bit-for-bit: ((1-d)/n) + ((d·dm)/n) + d·received.
      val nextBase = nodes.join(received, Seq("id"), "left")
      val withDm =
        if (!hasDangling) nextBase.withColumn("__dm", lit(0.0))
        else nextBase.crossJoin(broadcast(
          ranks.join(danglingNodes, "id")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))))
      val next = withDm
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("__dm") / lit(n.toDouble) +
            lit(damping) * coalesce(col("c"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(false)
        // persist-ok: unpersisted next round; the last: Release.free(result)
        .persist(StorageLevel.MEMORY_AND_DISK)
      pinned += next
      next.count()
      ranks.unpersist(blocking = false)
      ranks = next
      it += 1
    }
    trans.unpersist(blocking = false)
    danglingNodes.unpersist(blocking = false)
    e.unpersist(blocking = false)
    // note: `nodes` and the final `ranks` stay cached for the caller's
    // scans; Release.free(result) drops them when done
    ranks
    } catch { case t: Throwable =>
      pinned.foreach(d =>
        try d.unpersist(blocking = false)
        catch { case _: Throwable => })
      throw t
    }
  }
}
