package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The broadcast-query top-k machinery every vector search shares
  * (SURVEY §2.10: broadcast the small side, stream the large one):
  *  - [[collectQueries]]: the one capped, null-dropping, length-checked
  *    driver collect of a query frame;
  *  - [[scan]]: one pass over the corpus keeping, per partition, a
  *    bounded heap of the k best rows per query;
  *  - [[topKPerQuery]]: the per-query `row_number` finish;
  *  - [[exactRerank]]: exact cosine of a (qid, cid) shortlist.
  *
  * Ranking rule, everywhere: higher score first, ties toward the
  * smaller corpus id. A heap holding k entries replaces its worst entry
  * when a row scores higher, or equal with a smaller `cid`, so the
  * partition-local heaps never drop a row the final window keeps.
  * Rows with a null id or payload, vectors holding a null element and
  * rows that score NaN (a zero-norm vector's cosine) are never
  * neighbors, and a query is never its own neighbor (equal ids). */
private[sim] object VectorTopK {

  type Queries = Array[(Long, Array[Double])]

  /** Σ a(off + i)·b(i) over b's indices, summed in ascending order. */
  def dot(a: Array[Double], b: Array[Double], off: Int = 0): Double = {
    var s = 0.0
    var i = 0
    while (i < b.length) { s += a(off + i) * b(i); i += 1 }
    s
  }

  /** Σ v(i)², summed in ascending order. */
  def norm2(v: Array[Double]): Double = dot(v, v)

  def requireLen(op: String, what: String, id: Long, got: Int,
                 want: Int): Unit =
    require(got == want,
      s"$op: $what $id has length $got, expected $want")

  /** (id, payload) of `df` as (long, payload); rows with a null id or
    * payload are dropped. */
  def live(df: DataFrame, payload: Column): DataFrame =
    df.select(col("id").cast("long").as("id"), payload.as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)

  /** [[live]] over the `vec` column as array<double>, also dropping
    * rows whose vector holds a null element ([[SimOps.cosine]] is null
    * for them). */
  def vectors(df: DataFrame): DataFrame =
    live(df, col("vec").cast("array<double>"))
      .filter(!exists(col("v"), _.isNull))

  /** The vector of corpus row `r` (from [[vectors]]), which must have
    * the queries' length `dim`. */
  def corpusVec(r: Row, dim: Int, op: String): Array[Double] = {
    val v = r.getSeq[Double](1).toArray // List at deser: O(1) after
    requireLen(op, "corpus vector", r.getLong(0), v.length, dim)
    v
  }

  /** Collect at most `cap` query rows to the driver. `limit(cap + 1)`
    * bounds the fetch before any rows land, so an over-cap frame fails
    * with the remedy instead of exhausting the driver (docs/CAPS.md).
    * Every query must have length `dim`, or the first query's length
    * when `dim` < 0. */
  def collectQueries(queries: DataFrame, cap: Long, op: String,
                     dim: Int = -1): Queries = {
    val rows = vectors(queries)
      .limit(math.min(cap + 1, Int.MaxValue - 8L).toInt)
      .collect()
    require(rows.length <= cap,
      s"$op: queries frame exceeds queryCap=$cap rows; it is collected " +
        "to the driver and broadcast. Pre-filter the queries or raise " +
        "queryCap (with driver heap to match).")
    val qs = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val want = if (dim >= 0 || qs.isEmpty) dim else qs(0)._2.length
    qs.foreach { case (id, v) => requireLen(op, "query", id, v.length, want) }
    qs
  }

  /** One partition's heaps: the k best (score, cid) per query. */
  final class Heaps private[VectorTopK] (qids: Array[Long], k: Int) {
    private val best = Array.fill(qids.length)(
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] {
          case (s, id) => (-s, id) // max = worst: lowest score, largest id
        }))
    private[VectorTopK] var cid = 0L

    /** Score of query `qi` against the current corpus row. A NaN score
      * (a zero-norm vector's 0/0 cosine) is never kept. */
    def report(qi: Int, score: Double): Unit =
      if (qids(qi) != cid && !score.isNaN) {
        val h = best(qi)
        if (h.size < k) h.enqueue((score, cid))
        else {
          val (ws, wid) = h.head
          if (score > ws || (score == ws && cid < wid)) {
            h.dequeue(); h.enqueue((score, cid))
          }
        }
      }

    private[VectorTopK] def rows: Iterator[Row] =
      best.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (s, c) => Row(qids(qi), c, s) }
      }
  }

  /** Stream `corpus` ((cid, payload) rows from [[live]]) once against
    * the broadcast query-side `state`. `scorer(state)` is built once per
    * partition and called per corpus row; it reports each query's score
    * to the partition's [[Heaps]]. Emits (qid, cid, `score`), at most
    * k rows per query and partition; finish with [[topKPerQuery]]. */
  def scan[S](corpus: DataFrame, qids: Array[Long], state: S, k: Int,
              score: String)
             (scorer: S => (Row, Heaps) => Unit): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast((qids, state))
    val top = corpus.rdd.mapPartitions { it =>
      val (qs, st) = bc.value
      if (qs.isEmpty) Iterator.empty
      else {
        val heaps = new Heaps(qs, k)
        val rowScore = scorer(st)
        it.foreach { r => heaps.cid = r.getLong(0); rowScore(r, heaps) }
        heaps.rows
      }
    }
    spark.createDataFrame(top, StructType(Seq(
      StructField("qid", LongType), StructField("cid", LongType),
      StructField(score, DoubleType))))
  }

  /** Keep each query's k best rows of (qid, cid, `score`), ranked
    * `rk` = 1..k by the ranking rule. */
  def topKPerQuery(df: DataFrame, score: String, k: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col(score).desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col(score), col("rk"))

  /** Exact cosine ([[SimOps.cosine]]) of each (qid, cid) pair of
    * `shortlist` between the `queries` and `corpus` (id, vec) frames.
    * The shortlist is small and broadcast; each frame is read once. */
  def exactRerank(shortlist: DataFrame, queries: DataFrame,
                  corpus: DataFrame): DataFrame =
    broadcast(shortlist.select(col("qid"), col("cid")))
      .join(vectors(corpus).toDF("cid", "cv"), Seq("cid"))
      .join(vectors(queries).toDF("qid", "qv"), Seq("qid"))
      .select(col("qid"), col("cid"),
        SimOps.cosine(col("qv"), col("cv")).as("cos"))
}
