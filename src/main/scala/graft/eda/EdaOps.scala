package graft.eda

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EDA / diagnosis reports (SURVEY §2.13; reference
  * python/polars_ds/eda/diagnosis.py class DIA). Computational parts
  * only — plotting is out of scope. Every report is a single
  * aggregation pass over the frame (one job, map-side combined), shaped
  * long (one row per column) like the reference's report frames.
  */
object EdaOps {

  /** inf/nan/null/zero counts per numeric column.
    * (diagnosis.py:102 special_values_report) */
  def specialValuesReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__null"),
        sum((col(c) === Double.PositiveInfinity ||
          col(c) === Double.NegativeInfinity).cast("long")).as(s"${c}__inf"),
        sum(isnan(col(c)).cast("long")).as(s"${c}__nan"),
        sum((col(c) === 0.0).cast("long")).as(s"${c}__zero"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val rows = cols.zipWithIndex.map { case (c, i) =>
      (c, r.getLong(4 * i), r.getLong(4 * i + 1), r.getLong(4 * i + 2),
        r.getLong(4 * i + 3))
    }
    df.sparkSession.createDataFrame(rows)
      .toDF("column", "n_null", "n_inf", "n_nan", "n_zero")
  }

  /** Summary profile per numeric column, the reference's field set
    * (diagnosis.py:122 numeric_profile): non_null_cnt, null fraction,
    * mean/std/min/q1/median/q3/max (median rounded to 2 like the
    * reference), IQR, and the IQR-fence outlier count with
    * `iqrMultiplier` (any_horizontal fence at q1 − m·IQR / q3 + m·IQR).
    * With `histogram`, appends `hist` — `nBins` equal-width bin counts
    * over the min–max-normalized finite values (the reference cuts the
    * same normalized range; its ±1e-5 edge jiggle is display-only).
    * Quantiles are exact linear-interpolated (`percentile`); the
    * reference uses polars' default "nearest" — documented divergence,
    * same as the transforms layer. Two aggregation passes total for ANY
    * number of columns (profile, then fences+bins, which need pass 1's
    * quantiles), all map-side combined. */
  def numericProfile(df: DataFrame, cols: Seq[String], nBins: Int = 20,
                     iqrMultiplier: Double = 1.5,
                     histogram: Boolean = false): DataFrame = {
    val aggs = count(lit(1)).cast("double") +: cols.flatMap { c =>
      Seq(count(col(c)).cast("double"),
        avg(col(c)), stddev_samp(col(c)),
        min(col(c)).cast("double"),
        percentile(col(c), lit(0.25)),
        percentile(col(c), lit(0.5)),
        percentile(col(c), lit(0.75)),
        max(col(c)).cast("double"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val len = r.getDouble(0)
    case class P(cnt: Double, mean: Double, std: Double, mn: Double,
                 q1: Double, med: Double, q3: Double, mx: Double)
    val ps = cols.zipWithIndex.map { case (c, i) =>
      val o = 1 + 8 * i
      c -> P(r.getDouble(o), r.getDouble(o + 1), r.getDouble(o + 2),
        r.getDouble(o + 3), r.getDouble(o + 4), r.getDouble(o + 5),
        r.getDouble(o + 6), r.getDouble(o + 7))
    }.toMap
    // pass 2: IQR-fence outliers (+ histogram bins) against pass 1's
    // quantiles — still one distributed agg for all columns
    val aggs2 = cols.flatMap { c =>
      val p = ps(c)
      val iqr = p.q3 - p.q1
      val out = sum((col(c) < p.q1 - iqrMultiplier * iqr ||
        col(c) > p.q3 + iqrMultiplier * iqr).cast("long")).as(s"${c}__o")
      if (!histogram) Seq(out)
      else {
        val w = p.mx - p.mn
        val norm = (col(c) - p.mn) / (if (w > 0) w else 1.0)
        val bin = least(greatest(floor(norm * nBins), lit(0)),
          lit(nBins - 1))
        val finite = col(c).isNotNull && !isnan(col(c)) &&
          col(c) =!= Double.PositiveInfinity &&
          col(c) =!= Double.NegativeInfinity
        out +: (0 until nBins).map(k =>
          sum((finite && bin === k).cast("long")).as(s"${c}__h$k"))
      }
    }
    val r2 = df.agg(aggs2.head, aggs2.tail: _*).head
    val stride = if (histogram) 1 + nBins else 1
    if (!histogram) {
      val rows = cols.zipWithIndex.map { case (c, i) =>
        val p = ps(c)
        (c, p.cnt.toLong, 1.0 - p.cnt / len, p.mean, p.std, p.mn, p.q1,
          math.rint(p.med * 100) / 100, p.q3, p.mx, p.q3 - p.q1,
          r2.getLong(stride * i))
      }
      df.sparkSession.createDataFrame(rows)
        .toDF("column", "non_null_cnt", "null_pct", "mean", "std",
          "min", "q1", "median", "q3", "max", "iqr", "outlier_cnt")
    } else {
      val rows = cols.zipWithIndex.map { case (c, i) =>
        val p = ps(c)
        (c, p.cnt.toLong, 1.0 - p.cnt / len, p.mean, p.std, p.mn, p.q1,
          math.rint(p.med * 100) / 100, p.q3, p.mx, p.q3 - p.q1,
          r2.getLong(stride * i),
          (0 until nBins).map(k => r2.getLong(stride * i + 1 + k)))
      }
      df.sparkSession.createDataFrame(rows)
        .toDF("column", "non_null_cnt", "null_pct", "mean", "std",
          "min", "q1", "median", "q3", "max", "iqr", "outlier_cnt",
          "hist")
    }
  }

  /** Pairwise null-indicator correlation (diagnosis.py:342 null_corr):
    * Pearson corr(A is null, B is null) for every unordered column
    * pair, skipping columns that are all-null or never-null under the
    * optional `filterBy` (their indicator has zero variance — the
    * reference excludes them too). Rows ordered by |null_corr| desc
    * (name tie-break for determinism). The counts and every pair's
    * correlation compute in ONE aggregation pass. */
  def nullCorr(df: DataFrame, cols: Seq[String],
               filterBy: Option[Column] = None): DataFrame = {
    require(cols.size >= 2, "nullCorr: need at least two columns")
    val base = filterBy.map(df.filter).getOrElse(df)
    def ind(c: String): Column = col(c).isNull.cast("double")
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size)
      yield (cols(i), cols(j))
    val aggs = (count(lit(1)).cast("double") +:
      cols.map(c => sum(ind(c)))) ++
      pairs.zipWithIndex.map { case ((a, b), k) =>
        corr(ind(a), ind(b)).as(s"__p$k") }
    val r = base.agg(aggs.head, aggs.tail: _*).head
    val n = r.getDouble(0)
    val nullCnt = cols.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(1 + i)) 0.0 else r.getDouble(1 + i)) }.toMap
    val off = 1 + cols.size
    val rows = pairs.zipWithIndex.collect {
      case ((a, b), k) if nullCnt(a) > 0 && nullCnt(a) < n &&
          nullCnt(b) > 0 && nullCnt(b) < n =>
        (a, b,
          if (r.isNullAt(off + k)) Double.NaN else r.getDouble(off + k))
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("column_1", "column_2", "null_corr")
      .orderBy(abs(col("null_corr")).desc, col("column_1"),
        col("column_2"))
  }

  /** String column stats: null count, distinct count, min/avg/max
    * length. (diagnosis.py:408 str_stats) */
  def strStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).cast("double"),
        countDistinct(col(c)).cast("double"),
        min(length(col(c))).cast("double"),
        avg(length(col(c))),
        max(length(col(c))).cast("double"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val o = 5 * i
      (c, r.getDouble(o).toLong, r.getDouble(o + 1).toLong,
        r.getDouble(o + 2).toLong, r.getDouble(o + 3),
        r.getDouble(o + 4).toLong)
    }
    df.sparkSession.createDataFrame(rows)
      .toDF("column", "null_cnt", "n_unique", "min_len", "avg_len",
        "max_len")
  }

  /** Column-class inference flags, one row per column, with the
    * reference's conventions (diagnosis.py:521-675 infer_high_null /
    * infer_discrete / infer_const / infer_binary / infer_k_distinct):
    * `n_unique` counts null as a value (polars n_unique); is_const /
    * is_binary / is_k_distinct allow one extra distinct for null when
    * `includeNull`; is_discrete = n_unique < discreteMaxValCnt OR
    * n_unique < discreteThreshold·len (both strict); high_null =
    * null_cnt ≥ highNullThreshold·len. One aggregation pass for all
    * columns. */
  def inferReport(df: DataFrame, cols: Seq[String],
                  includeNull: Boolean = false,
                  discreteThreshold: Double = 0.1,
                  discreteMaxValCnt: Int = 100,
                  highNullThreshold: Double = 0.75,
                  kDistinct: Option[Int] = None): DataFrame = {
    val aggs = count(lit(1)).cast("double") +: cols.flatMap { c =>
      Seq(countDistinct(col(c)).cast("double"),
        sum(col(c).isNull.cast("long")).cast("double"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val len = r.getDouble(0)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val o = 1 + 2 * i
      val nullCnt = if (r.isNullAt(o + 1)) 0.0 else r.getDouble(o + 1)
      val nu = r.getDouble(o).toLong + (if (nullCnt > 0) 1L else 0L)
      def isK(k: Long): Boolean =
        nu == k || (includeNull && nullCnt > 0 && nu == k + 1)
      (c, nu, isK(1), isK(2),
        nu < discreteMaxValCnt || nu < discreteThreshold * len,
        nullCnt >= highNullThreshold * len,
        kDistinct.exists(k => isK(k.toLong)))
    }
    val out = df.sparkSession.createDataFrame(rows)
      .toDF("column", "n_unique", "is_const", "is_binary",
        "is_discrete", "high_null", "is_k_distinct")
    if (kDistinct.isDefined) out else out.drop("is_k_distinct")
  }

  /** DIA.corr (diagnosis.py:437): wide correlation table — one row per
    * `subset` column, one output column per `numerics` column, under
    * the chosen method ("pearson" | "spearman" | "kendall" | "xi" |
    * "bicor"). pearson and kendall evaluate every pair in ONE
    * distributed aggregation (kendall via the [[graft.agg.KendallTauAgg]]
    * aggregate); spearman ranks each distinct column once with a
    * range-partitioned sort + zipWithIndex (no global single-partition
    * window — survives any frame size), then one aggregation over the
    * ranks. xi and bicor are whole-frame rank constructions per pair
    * (asymmetric / median-based), so they run one bounded job per
    * pair — require()-capped to keep the job count loud. */
  def corrTable(df: DataFrame, subset: Seq[String],
                numerics: Seq[String],
                method: String = "pearson"): DataFrame = {
    require(subset.nonEmpty && numerics.nonEmpty, "corrTable: empty cols")
    val pairs = for (x <- subset; y <- numerics) yield (x, y)
    val vals: Map[(String, String), Double] = method match {
      case "pearson" | "spearman" =>
        // one scope around the rank map's persist and the aggregate
        // that consumes it, so the scope releases the map
        val r = graft.util.Release.scopedValue(df.sparkSession) {
          val all = (subset ++ numerics).distinct
          val base = df.select(all.map(c => col(c).cast("double").as(c)): _*)
          val src =
            if (method == "pearson") base
            else {
              // Tie-averaged ranks WITHOUT a global single-partition
              // window: the distinct-value count tables of ALL columns
              // are STACKED under a discriminator and ranked through ONE
              // shared cumsum pipeline (r16 — the previous shape ran one
              // GlobalCumsum persist + range shuffle + broadcast-offset
              // join PER COLUMN; this is one range shuffle ordered by
              // (column, value) total). Per-column cumulative counts =
              // the stacked running count minus the exclusive prefix of
              // whole-column totals (a ≤ #columns-row window, broadcast
              // back); the tie group's average 1-based rank is then
              // exclusive-cum + (cnt+1)/2 — an exact integer-or-half
              // double, identical to averaging the positions. The
              // (value → rank) map joins back by value; every stage
              // stays distributed at any frame size. corr is
              // shift-invariant, so null rows (rank null via the left
              // join) drop out pairwise exactly like the windowed
              // formulation.
              val colIdx = all.zipWithIndex
              // one scan, not one per column (r17): posexplode stacks
              // every column's value under its index in a single pass —
              // the former per-column select + unionAll re-scanned the
              // source once per column
              val stacked = base
                .select(posexplode(array(all.map(col): _*))
                  .as(Seq("__k", "__v")))
                .where(col("__v").isNotNull && !isnan(col("__v")))
                .groupBy(col("__k"), col("__v"))
                .agg(count(lit(1)).as("__n"))
              val cum = graft.util.GlobalCumsum.runningSumsMulti(stacked,
                Seq(col("__k"), col("__v")), ascending = true,
                Seq(col("__n") -> "__cum"))
              // exclusive prefix of per-column totals: one row per
              // column, so the keyless window is bounded by the column
              // count, never the data. Derived from `cum` (checkpoint-
              // backed inside GlobalCumsum) rather than `stacked`, whose
              // re-execution would re-run the whole scan+aggregate (r17).
              val baseOff = cum.groupBy(col("__k"))
                .agg(sum(col("__n")).as("__tot"))
                .withColumn("__base", coalesce(sum(col("__tot")).over(
                  org.apache.spark.sql.expressions.Window
                    .orderBy(col("__k"))
                    .rowsBetween(
                      org.apache.spark.sql.expressions.Window
                        .unboundedPreceding, -1)),
                  lit(0L)))
                .select(col("__k"), col("__base"))
              // persist the finished rank map: each of the per-column
              // join-back branches otherwise re-runs the whole stacked
              // pipeline past GlobalCumsum's internal cache. Lazy, not an
              // eager checkpoint — the barrier on a distinct-value-sized
              // frame measured slower warm than the branch races it
              // removes (r17).
              val rankMap = graft.util.Release.persist(
                cum.join(broadcast(baseOff), "__k")
                  .select(col("__k"), col("__v"),
                    ((col("__cum") - col("__base") - col("__n")) +
                      (col("__n") + lit(1)) / 2.0).as("__r")))
              colIdx.foldLeft(base) { case (d, (c, k)) =>
                val rm = rankMap.filter(col("__k") === k)
                  .select(col("__v"), col("__r"))
                d.join(rm, d(c) === rm("__v"), "left")
                  .withColumn(c, col("__r")).drop("__v", "__r")
              }
            }
          val aggs = pairs.zipWithIndex.map { case ((x, y), k) =>
            corr(col(x), col(y)).as(s"__c$k") }
          src.agg(aggs.head, aggs.tail: _*).head
        }
        pairs.zipWithIndex.map { case (p, k) =>
          p -> (if (r.isNullAt(k)) Double.NaN else r.getDouble(k)) }.toMap
      case "kendall" =>
        val aggs = pairs.zipWithIndex.map { case ((x, y), k) =>
          graft.agg.KendallTauAgg.kendallTau(
            col(x).cast("double"), col(y).cast("double")).as(s"__c$k") }
        val r = df.agg(aggs.head, aggs.tail: _*).head
        pairs.zipWithIndex.map { case (p, k) =>
          p -> (if (r.isNullAt(k)) Double.NaN else r.getDouble(k)) }.toMap
      case "xi" | "bicor" =>
        require(pairs.size <= 64,
          s"corrTable($method): ${pairs.size} pairs exceed the 64-pair " +
            "cap — each pair is a whole-frame job; narrow the subset")
        pairs.map { case (x, y) =>
          val one =
            if (method == "xi")
              graft.ops.StatOps.xiCorr(df, col(x), col(y), Nil)
            else graft.ops.StatOps.bicor(df, col(x), col(y), Nil)
          val v = one.head.getDouble(0)
          (x, y) -> v
        }.toMap
      case m => throw new IllegalArgumentException(
        s"corrTable: method $m (want pearson|spearman|kendall|xi|bicor)")
    }
    val rows = subset.map { x =>
      org.apache.spark.sql.Row.fromSeq(x +: numerics.map(y => vals((x, y))))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("column",
        org.apache.spark.sql.types.StringType) +:
        numerics.map(y => org.apache.spark.sql.types.StructField(y,
          org.apache.spark.sql.types.DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), schema)
  }

  /** Columns that could hold probabilities: every non-null value lies
    * in [0, 1]. One aggregation over all candidates.
    * (diagnosis.py:492 infer_prob) */
  def inferProb(df: DataFrame, cols: Seq[String]): Seq[String] = {
    if (cols.isEmpty) Nil
    else {
      val aggs = cols.map(c =>
        min(when(col(c).isNotNull,
          col(c).between(0.0, 1.0).cast("int"))).as(c))
      val r = df.agg(aggs.head, aggs.tail: _*).head
      cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) && r.getInt(i) == 1 => c
      }
    }
  }

  /** H(x|y): conditional-entropy dependency score used by
    * infer_dependency (diagnosis.py:772) — 0 means y determines x. */
  def dependencyScore(df: DataFrame, x: Column, y: Column): Double =
    graft.ops.TSOps.condEntropy(df, x, y, Nil)
      .head.getDouble(0)

  /** Column-rule validation report (diagnosis.py:236 col_validation):
    * each rule is (columnName, aggregate boolean Column, message); all
    * rules evaluate in ONE action, and only the failing ones are
    * returned as (column, __reason__) rows. A rule evaluating to null
    * counts as failed. */
  def colValidation(df: DataFrame,
                    rules: Seq[(String, Column, String)]): DataFrame = {
    require(rules.nonEmpty, "colValidation: no rules")
    val spark = df.sparkSession
    import spark.implicits._
    val row = df.select(rules.zipWithIndex.map { case ((_, c, _), i) =>
      c.cast("boolean").as(s"_r$i") }: _*).head
    rules.zipWithIndex.collect {
      case ((name, _, msg), i) if row.isNullAt(i) || !row.getBoolean(i) =>
        (name, msg)
    }.toDF("column", "__reason__")
  }

  /** Row-rule validation report (diagnosis.py:268 row_validation):
    * rules are per-row boolean Columns with a violation message;
    * output keeps only violating rows with the id (default: a
    * generated `__index__`), any `keep` columns, and either the first
    * violation reason (`__reason__`) or all of them (`__reasons__`).
    * A null rule value counts as a violation, like a failed filter. */
  def rowValidation(df: DataFrame, rules: Seq[(Column, String)],
                    idCol: Option[Column] = None,
                    keep: Seq[Column] = Nil,
                    allReasons: Boolean = false): DataFrame = {
    require(rules.nonEmpty, "rowValidation: no rules")
    val id = idCol.getOrElse(
      monotonically_increasing_id().as("__index__"))
    val reasons = rules.map { case (c, msg) =>
      when(!coalesce(c.cast("boolean"), lit(false)), lit(msg)) }
    val arr = array_compact(array(reasons: _*))
    val base = df.select((id +: keep) :+ arr.as("__reasons__"): _*)
      .filter(size(col("__reasons__")) > 0)
    if (allReasons) base
    else base
      .withColumn("__reason__", element_at(col("__reasons__"), 1))
      .drop("__reasons__")
  }
}
