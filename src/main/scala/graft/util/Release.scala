package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Block-manager hygiene for operators that persist intermediates.
  *
  * An iterative or self-joining operator that calls `persist()` /
  * `localCheckpoint()` internally would otherwise leave its blocks in
  * the block manager for the session's lifetime (the ContextCleaner
  * only reclaims them after a driver GC notices the RDD is
  * unreachable — by default every 30 min). On a long-lived cluster
  * session those leaks evict useful cache and bleed GC time into every
  * subsequent job, so operators clean up after themselves with
  * [[scoped]] / [[scopedValue]], and persist their intermediates with
  * [[persist]].
  *
  * Why an operator must not free a `Dataset.persist` by dropping its
  * RDD's blocks: that leaves the CacheManager entry in place with an
  * unpersisted RDD behind it. Every later `persist` of the same plan
  * then finds the entry and does nothing, and every consumer of the
  * "cached" frame recomputes it. Frames persisted through [[persist]]
  * are released with `Dataset.unpersist`, which removes the entry. */
object Release {

  /** The frames [[persist]] registered, one buffer per scope open on
    * this thread, innermost first. */
  private val open =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue() = Nil
    }

  /** `df.persist(MEMORY_AND_DISK)`, released by the innermost
    * [[scoped]] / [[scopedValue]] open on the calling thread when it
    * exits (after `scoped`'s checkpoint has materialized the result),
    * through `Dataset.unpersist`. A frame whose plan is already cached
    * — a caller's own cache — is left to its owner. Outside any scope
    * this is a plain persist. */
  def persist(df: DataFrame): DataFrame = {
    val owned = df.storageLevel == StorageLevel.NONE
    // persist-ok: the scope that registers it releases it
    df.persist(StorageLevel.MEMORY_AND_DISK)
    if (owned) open.get.headOption.foreach(_ += df)
    df
  }

  /** Run `body` with a fresh registration buffer on top of this
    * thread's stack; on exit (also by exception) pop it and unpersist
    * what it holds. */
  private def inScope[A](body: => A): A = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** Unpersist the RDDs in `ids` that are still persisted. */
  private def dropRdds(spark: SparkSession, ids: Iterable[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Run `body`, eagerly materialize its result via
    * `localCheckpoint(true)` (which also cuts lineage), then release
    * what `body` persisted: the frames it registered through
    * [[persist]], and every RDD it newly persisted and materialized
    * itself (localCheckpoint chains), keeping only the blocks backing
    * the returned frame.
    *
    * The returned frame is therefore: (a) fully computed, (b) safe to
    * scan any number of times without recomputation, and (c) the ONLY
    * new resident it leaves in the block manager. Callers that are done
    * with it can free it with [[free]]. */
  def scoped(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet
    val (mid, ck) = inScope {
      val out = body
      (sc.getPersistentRDDs.keySet, out.localCheckpoint(eager = true))
    }
    // what the checkpoint itself persisted stays: it backs `ck`
    val ckIds = sc.getPersistentRDDs.keySet -- mid
    dropRdds(spark, mid -- pre -- ckIds)
    ck
  }

  /** Like [[scoped]] for computations ending in a DRIVER value: run
    * `body` (which should fully consume its DataFrames — e.g. end in
    * `head`/`collect`), then release the frames it registered through
    * [[persist]] and unpersist every RDD it newly persisted. */
  def scopedValue[A](spark: SparkSession)(body: => A): A = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val out = inScope(body)
    dropRdds(spark, spark.sparkContext.getPersistentRDDs.keySet -- pre)
    out
  }

  /** Drop the blocks behind a frame returned by [[scoped]] (or any
    * frame whose plan is a single checkpointed/persisted RDD scan). */
  def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    // a localCheckpoint-backed frame is not in the CacheManager; walk
    // the physical RDD chain and unpersist any persisted ancestor
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit = {
      if (r.getStorageLevel.isValid) r.unpersist(blocking = false)
      r.dependencies.foreach(d => walk(d.rdd))
    }
    try walk(df.queryExecution.toRdd) catch { case _: Throwable => }
  }
}
