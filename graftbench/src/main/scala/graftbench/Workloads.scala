package graftbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeFunctions
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.graph.GraphOps
import graft.text.TextOps
import graft.util.{GlobalCumsum, Release}

/** One unit of timed work. `run` is the untraced path; `traced` does
  * the same work with a span around each layer call. */
final case class Item(name: String, run: () => Unit, traced: Tracer => Unit)

/** The outcome of one item's output check in the untimed pass. */
final case class Check(item: String, ok: Boolean, detail: String)

trait Workload {
  def items: Seq[Item]
  /** Item order of pass `pass`. */
  def order(pass: Int): Seq[Item] = items
  /** Input rows one pass reads. */
  def inputRows: Long
  /** Untimed pass: run every item once and check its output. */
  def check(): Seq[Check]
  /** Untimed passes run after the check pass, before timing starts. */
  def warmPasses: Int = 0
  /** Per-layer work done only in traced passes (split legs). */
  def tracedExtra(tr: Tracer): Unit = ()
  /** Facts learnt in the check pass (output sizes, recall, oracles). */
  def facts: Map[String, Any]
}

object Workload {
  /** Materialize every row and column without collecting: Spark's
    * built-in no-op sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def attempt(item: String)(body: => String): Check =
    try {
      val d = body
      Check(item, d.isEmpty, d)
    } catch { case NonFatal(e) => Check(item, false, e.toString) }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new File(path))
  }

  /** Pairs as (smaller id, larger id). */
  def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id1").cast("long"), col("id2").cast("long")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
}

import Workload._

/** Grouped metric, statistical-test and regression aggregations: the
  * library's headline pattern, over the analytics fixture. */
final class Analytics(spark: SparkSession, dir: String, work: String,
                      seed: Long, rows: Map[String, Long]) extends Workload {

  private val Cumsum = "cumsum_lineitem"

  // Each item under the graft layer its operator lives in: two queries
  // a layer, one of them rank-heavy (multi_roc_auc, spearman,
  // normal_test, rolling_lin_reg) where the layer has one. A cold check
  // pass, a warm pass and two timed passes must fit the run budget, so
  // this is a subset of the analytics query list.
  private val layers: Seq[(String, Seq[String])] = Seq(
    "ops.metric" -> Seq("q_roc_auc", "q_multi_roc_auc"),
    "ops.stat" -> Seq("q_spearman", "q_normal_test"),
    "linear" -> Seq("q_ridge", "q_rolling_lin_reg"),
    "agg" -> Seq("q_kendall_tau", "q_topk_group"),
    "util.cumsum" -> Seq(Cumsum))

  // The one table each item scans.
  private def table(name: String): String = name match {
    case "q_kendall_tau" => "customer"
    case "q_topk_group" => "orders"
    case "q_spearman" | "q_ridge" | Cumsum => "lineitem"
    case _ => "events"
  }

  private val cumsumSql =
    """SELECT l_orderkey * 8 + l_linenumber AS k,
      |  SUM(l_quantity) OVER (ORDER BY l_orderkey * 8 + l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_qty
      |FROM lineitem""".stripMargin

  private def build(name: String): DataFrame =
    if (name != Cumsum) SparkEntry.queries(name)(spark, dir)
    else {
      // (l_orderkey, l_linenumber) is a key, so k is distinct: the
      // input runningSums requires
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      GlobalCumsum.runningSums(
          li.select((col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
            col("l_quantity")),
          col("k"), ascending = true, Seq(col("l_quantity") -> "cum_qty"))
        .select(col("k"), col("cum_qty"))
    }

  val items: Seq[Item] = for ((layer, names) <- layers; n <- names)
    yield Item(n,
      run = () => Release.scopedValue(spark)(noop(build(n))),
      traced = tr => Release.scopedValue(spark) {
        tr.span(layer) {
          val df = tr.span("api.build")(build(n))
          tr.span("catalyst.plan")(df.queryExecution.executedPlan)
          tr.span("spark.exec")(noop(df))
        }
      })

  override def order(pass: Int): Seq[Item] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  // Measured: the first pass after the check pass took 10 to 40 % longer
  // than the next one, and by a different share in every run.
  override def warmPasses: Int = 1

  val inputRows: Long = items.map(i => rows(table(i.name))).sum

  /** Writes each output as parquet; run.py compares it with the item's
    * oracle SQL in DuckDB, so a Check here only records exceptions. */
  def check(): Seq[Check] = items.map { it =>
    attempt(it.name) {
      Release.scopedValue(spark)(build(it.name).write.mode("overwrite")
        .parquet(s"$work/check/${it.name}"))
      ""
    }
  }

  def facts: Map[String, Any] = Map(
    "oracle_sql" -> items.map(i => i.name ->
      (if (i.name == Cumsum) cumsumSql else SparkEntry.oracleSql(i.name))).toMap)
}

/** Full-batch near-duplicate detection over a planted-family corpus:
  * exact Jaccard pairs and MinHash-LSH pairs, each reduced to one
  * survivor per cluster. */
final class DedupBatch(spark: SparkSession, dir: String,
                       routeThreshold: Long, traced: Boolean) extends Workload {
  private val JaccardT = 0.7
  private val MinHashT = 0.5
  private def corpus = spark.read.parquet(s"$dir/corpus.parquet")

  private val truth: Seq[(Long, Long, Int)] = corpus
    .select("doc_id", "family", "block").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
  private val hotBlock: Int =
    truth.groupBy(_._3).maxBy(_._2.size)._1
  private val planted: Set[(Long, Long)] = truth.filter(_._2 >= 0)
    .groupBy(_._2).values.flatMap { fam =>
      val ids = fam.map(_._1).sorted
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }.toSet
  private val familyOf: Map[Long, Long] = truth.map(t => t._1 -> t._2).toMap

  private def jaccard(df: DataFrame): DataFrame =
    TextOps.jaccardDupPairs(df, col("doc_id"), col("text"), col("block"),
      JaccardT, routeThreshold = routeThreshold)
  private def minhash(df: DataFrame): DataFrame =
    TextOps.minHashDupPairs(df, col("doc_id"), col("text"), MinHashT)
  private def survivors(pairs: DataFrame): DataFrame =
    GraphOps.dedupByClusters(corpus, col("doc_id"), pairs, col("id1"),
      col("id2"))

  val items: Seq[Item] = Seq(
    Item("jaccard_dedup", () =>
      Release.scopedValue(spark)(noop(survivors(jaccard(corpus)))),
      tr => Release.scopedValue(spark) {
        tr.span("dedup.jaccard") {
          val pairs = jaccard(corpus).persist(StorageLevel.MEMORY_AND_DISK)
          tr.counted("text.jaccard")(pairs.count())
          tr.span("graph.cc")(noop(GraphOps.connectedComponents(
            GraphOps.localSpanningForest(pairs, col("id1"), col("id2")),
            col("u"), col("v"))))
          tr.span("graph.survivors")(noop(survivors(pairs)))
        }
      }),
    Item("minhash_dedup", () =>
      Release.scopedValue(spark)(noop(survivors(minhash(corpus)))),
      tr => Release.scopedValue(spark) {
        tr.span("dedup.minhash") {
          val bands = TextOps.minHashBandTable(corpus, col("doc_id"),
            col("text")).persist(StorageLevel.MEMORY_AND_DISK)
          tr.counted("text.minhash_sign")(bands.count())
          val pairs = TextOps.minHashDupPairsFromBands(bands, MinHashT)
            .persist(StorageLevel.MEMORY_AND_DISK)
          tr.counted("text.minhash_pairs")(pairs.count())
          tr.span("graph.survivors")(noop(survivors(pairs)))
        }
      }))

  val inputRows: Long = truth.size.toLong * items.size

  // Measured: right after the check pass the MinHash item took either
  // about 3.5 s or 4.8 s (with a third more process CPU) from run to
  // run of the same seed, while the JIT was still compiling; one more
  // untimed pass, and the median over the timed ones, leave that out.
  override def warmPasses: Int = 1

  override def tracedExtra(tr: Tracer): Unit = {
    tr.span("text.tokenize")(noop(corpus.select(
      NativeFunctions.sortedTokenHashesNative(col("text")).as("ws"))))
    tr.span("text.jaccard_triangle")(noop(jaccard(
      corpus.filter(col("block") =!= hotBlock))))
    tr.span("text.jaccard_prefix")(noop(jaccard(
      corpus.filter(col("block") === hotBlock))))
  }

  private var found: Map[String, Long] = Map.empty
  private var recall = 0.0

  /** Survivors a correct clustering of `pairs` keeps: every document
    * outside all pairs plus the smallest id of each connected set. */
  private def expectedSurvivors(pairs: Set[(Long, Long)]): Set[Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    truth.map(_._1).filter(id => find(id) == id).toSet
  }

  private def checkSurvivors(pairs: DataFrame, got: Set[(Long, Long)])
      : String = {
    val surv = survivors(pairs).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val want = expectedSurvivors(got)
    if (surv == want) ""
    else s"survivors: ${surv.size} kept, ${want.size} expected"
  }

  /** Before a traced run, also runs the split calls the traced pass
    * times, once, so they are as warm as the untraced path, and requires
    * them to agree with the single calls. */
  def check(): Seq[Check] = Seq(
    attempt("jaccard_dedup") {
      Release.scopedValue(spark) {
        val pairs = jaccard(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        val got = pairSet(pairs)
        val legs = if (!traced) got else {
          noop(corpus.select(
            NativeFunctions.sortedTokenHashesNative(col("text")).as("ws")))
          pairSet(jaccard(corpus.filter(col("block") =!= hotBlock))) ++
            pairSet(jaccard(corpus.filter(col("block") === hotBlock)))
        }
        found += "jaccard_pairs" -> got.size.toLong
        found += "components" ->
          truth.map(_._2).filter(_ >= 0).distinct.size.toLong
        found += "survivors" -> expectedSurvivors(planted).size.toLong
        if (got != planted)
          s"jaccard pairs: ${got.size} found, ${planted.size} planted, " +
            s"${(got -- planted).size} outside the planted set"
        else if (legs != got)
          s"jaccard legs: ${legs.size} pairs, one call ${got.size}"
        else {
          if (traced) noop(GraphOps.connectedComponents(
            GraphOps.localSpanningForest(pairs, col("id1"), col("id2")),
            col("u"), col("v")))
          checkSurvivors(pairs, got)
        }
      }
    },
    attempt("minhash_dedup") {
      Release.scopedValue(spark) {
        val pairs = minhash(corpus)
        val got = pairSet(pairs)
        val viaBands = if (!traced) got else pairSet(
          TextOps.minHashDupPairsFromBands(TextOps.minHashBandTable(corpus,
            col("doc_id"), col("text")).persist(StorageLevel.MEMORY_AND_DISK),
            MinHashT))
        found += "minhash_pairs" -> got.size.toLong
        recall = (got & planted).size.toDouble / planted.size
        val outside = got.count { case (a, b) =>
          familyOf(a) < 0 || familyOf(a) != familyOf(b) }
        if (outside > 0) s"minhash pairs: $outside cross families"
        else if (viaBands != got)
          s"minhash via band table: ${viaBands.size} pairs, one call ${got.size}"
        else checkSurvivors(pairs, got)
      }
    })

  def facts: Map[String, Any] = found ++ Map(
    "minhash_recall" -> recall, "planted_pairs" -> planted.size,
    "hot_block" -> hotBlock, "route_threshold" -> routeThreshold)
}

/** `main`, whose traced passes also run `extra`'s items, so the layers
  * only `extra` reaches get per-layer numbers in `main`'s traced run.
  * `extra` adds no timed item; its outputs are checked with `main`'s. */
final class WithTracedExtra(main: Workload, extra: Workload) extends Workload {
  def items: Seq[Item] = main.items
  override def order(pass: Int): Seq[Item] = main.order(pass)
  def inputRows: Long = main.inputRows
  def check(): Seq[Check] = main.check() ++ extra.check()
  override def warmPasses: Int = main.warmPasses
  override def tracedExtra(tr: Tracer): Unit = {
    main.tracedExtra(tr)
    extra.items.foreach(_.traced(tr))
  }
  def facts: Map[String, Any] = main.facts ++ extra.facts
}

/** The daily-snapshot loop: sign a base corpus into parquet band state,
  * then sweep each arriving batch against the state and append it. */
final class DedupIncremental(spark: SparkSession, dir: String, work: String,
                             batches: Int) extends Workload {
  private val MinHashT = 0.5
  private val state = s"$work/state"
  private def docs(name: String) = spark.read.parquet(s"$dir/$name.parquet")
  private def bandTable(df: DataFrame) =
    TextOps.minHashBandTable(df, col("doc_id"), col("text"))
  private def stateBands = spark.read.parquet(state)
  private def batchName(k: Int) = f"batch_$k%02d"

  private val snapshotOf: Map[Long, Int] =
    (("base", -1) +: (0 until batches).map(k => (batchName(k), k)))
      .flatMap { case (n, k) =>
        docs(n).select("doc_id").collect().map(_.getLong(0) -> k)
      }.toMap

  private def sweep(nb: DataFrame): DataFrame =
    TextOps.incrementalMinHashDupPairsFromBands(nb, stateBands, MinHashT)

  val items: Seq[Item] =
    Item("base", () => bandTable(docs("base")).write
        .mode("overwrite").parquet(state),
      tr => Release.scopedValue(spark) {
        val bands = bandTable(docs("base"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        tr.counted("text.band_table")(bands.count())
        tr.counted("state.write") {
          bands.write.mode("overwrite").parquet(state)
          dirBytes(state)
        }
      }) +:
    (0 until batches).map { k =>
      Item(batchName(k), () => Release.scopedValue(spark) {
          val nb = bandTable(docs(batchName(k)))
            .persist(StorageLevel.MEMORY_AND_DISK)
          noop(sweep(nb))
          nb.write.mode("append").parquet(state)
        },
        tr => Release.scopedValue(spark) {
          val nb = bandTable(docs(batchName(k)))
            .persist(StorageLevel.MEMORY_AND_DISK)
          tr.counted("text.batch_sign")(nb.count())
          tr.span("text.sweep")(noop(sweep(nb)))
          tr.counted("state.write") {
            val b0 = dirBytes(state)
            nb.write.mode("append").parquet(state)
            dirBytes(state) - b0
          }
        })
    }

  val inputRows: Long = snapshotOf.size.toLong

  private var found: Map[String, Any] = Map.empty

  /** Each item's pairs must be exactly the full-batch pairs whose newer
    * document arrived with that item. */
  def check(): Seq[Check] = {
    val got = scala.collection.mutable.Map.empty[String, Set[(Long, Long)]]
    val ran = items.map { it =>
      attempt(it.name) {
        Release.scopedValue(spark) {
          if (it.name == "base") {
            bandTable(docs("base")).write.mode("overwrite").parquet(state)
            got("base") = pairSet(
              TextOps.minHashDupPairsFromBands(stateBands, MinHashT))
          } else {
            val nb = bandTable(docs(it.name))
              .persist(StorageLevel.MEMORY_AND_DISK)
            got(it.name) = pairSet(sweep(nb))
            nb.write.mode("append").parquet(state)
          }
        }
        ""
      }
    }
    val full = Release.scopedValue(spark)(pairSet(
      TextOps.minHashDupPairsFromBands(stateBands, MinHashT)))
    val stateRows = stateBands.count()
    found = Map("full_pairs" -> full.size,
      "incremental_pairs" -> (got - "base").values.map(_.size).sum,
      "state_bytes" -> dirBytes(state),
      "state_docs" -> snapshotOf.size,
      "state_rows" -> stateRows)
    ran.map { c =>
      if (!c.ok) c
      else {
        val k = if (c.item == "base") -1 else c.item.drop(6).toInt
        val want = full.filter { case (a, b) =>
          math.max(snapshotOf(a), snapshotOf(b)) == k }
        val have = got(c.item)
        if (have == want) c
        else c.copy(ok = false, detail = s"${have.size} pairs, " +
          s"${want.size} in the full-batch run, ${(have -- want).size} extra")
      }
    }
  }

  def facts: Map[String, Any] = found
}
