package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A bundle of driver-contract queries + their DuckDB oracle SQL.
  * SparkEntry unions all packs. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueryPack.table(s, dir, name)
}

object QueryPack {
  // Per-session relation reuse (r17, guide §1.2 "don't compute things
  // you throw away" applied to the driver): every query used to call
  // `spark.read.parquet(path)` afresh, re-listing the path and
  // re-reading the parquet footer to re-infer the schema — pure
  // driver-side latency repeated ~800× across the suite. A catalog
  // table resolves once per session; this mirrors that by memoizing
  // the RESOLVED DataFrame (logical plan leaf: schema + file index)
  // per (session, path). No row data is cached — every action still
  // scans the parquet files. The memo assumes one session per JVM and
  // input files that do not change while it lives: each memoized
  // DataFrame strongly references its session, so the weak key never
  // clears and the session stays reachable, and a rewritten table dir
  // keeps its stale file index. A fresh process re-resolves.
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  private[graft] def table(s: SparkSession, dir: String,
                           name: String): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        cache.put(s, m)
      }
      m
    }
    val path = s"$dir/$name.parquet"
    perSession.computeIfAbsent(path, p => s.read.parquet(p))
  }
}
