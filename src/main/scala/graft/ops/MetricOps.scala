package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.GlobalCumsum

/** Distributed DataFrame-level metrics that need a sort or a second pass
  * (non-algebraic aggregations). These are the designs that scale: rather
  * than buffering a whole group in an aggregator (the reference kernels
  * materialize each group's Series — fine in-process, fatal at 100 TB),
  * each op is re-expressed as shuffle-friendly relational algebra:
  *
  *  - exact ROC-AUC: compress rows to distinct (group, score) thresholds
  *    first (groupBy — map-side combinable), then a window over the
  *    *thresholds only* (cardinality ≪ rows), then the tie-corrected
  *    Mann–Whitney rank formula, which is exactly the trapezoidal area
  *    under the ROC curve (reference: src/num_ext/tp_fp.rs:215 sorts and
  *    integrates with trapz — same result, different execution shape).
  *  - MAD: aggregate per-group center, broadcast-join it back, aggregate
  *    deviations. Two shuffles on the group key, no per-group buffering.
  */
object MetricOps {

  private val P = "__pds_"

  /** Normalize grouping columns to stable internal names. */
  private def keyed(df: DataFrame, groupCols: Seq[Column], extra: Seq[Column])
      : (DataFrame, Seq[String]) = {
    val gNames = groupCols.indices.map(i => s"${P}g$i")
    val sel = groupCols.zip(gNames).map { case (c, n) => c.as(n) } ++ extra
    (df.select(sel: _*), gNames)
  }

  /** Exact ROC-AUC per group, fully distributed.
    *
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) where R⁺ is the sum of average
    * ranks of positives — identical to trapezoidal integration of the ROC
    * curve with tied scores collapsed to one threshold point.
    * (reference semantics: metrics.py:354 query_roc_auc)
    *
    * Output columns: groupCols (original names not preserved — caller
    * selects/aliases) … use [[rocAucNamed]] for convenience. */
  def rocAuc(df: DataFrame, y: Column, score: Column,
             groupCols: Seq[Column], outName: String = "roc_auc"): DataFrame =
    rocAucWithPositives(df, y, score, groupCols, outName, None)

  /** [[rocAuc]], plus Σy per group as `posName` when given. */
  private def rocAucWithPositives(df: DataFrame, y: Column, score: Column,
                                  groupCols: Seq[Column], outName: String,
                                  posName: Option[String]): DataFrame = {
    val (t, g) = keyed(df, groupCols,
      Seq(y.cast("double").as(s"${P}y"), score.cast("double").as(s"${P}s")))
    val gc = g.map(col)
    // 1. compress to distinct thresholds — partial-aggregable, one shuffle
    val thr = t.groupBy((gc :+ col(s"${P}s")): _*)
      .agg(count(lit(1)).as(s"${P}cnt"), sum(s"${P}y").as(s"${P}pos"))
    // 2. tie-averaged rank of each threshold's block
    val ranked = GlobalCumsum.midRanks(thr, gc, col(s"${P}s"),
        col(s"${P}cnt"), s"${P}mid")
      .withColumn(s"${P}posRank", col(s"${P}pos") * col(s"${P}mid"))
    // 3. final per-group reduction. A single-class group has no curve:
    // the reference returns NaN there ("when all classes are 0,
    // roc_auc returns NaN", test_metrics.py:139), never null
    val nPos = sum(s"${P}pos")
    val nNeg = sum(s"${P}cnt") - nPos
    ranked.groupBy(gc: _*).agg(
      when(nPos === 0.0 || nNeg === 0.0, lit(Double.NaN))
        .otherwise((sum(s"${P}posRank") - nPos * (nPos + 1.0) / 2.0) /
          (nPos * nNeg)).as(outName),
      posName.map(nPos.as(_)).toSeq: _*)
  }

  /** rocAuc keeping given output names for the group columns. */
  def rocAucNamed(df: DataFrame, y: Column, score: Column,
                  groupNames: Seq[String], outName: String = "roc_auc")
      : DataFrame =
    withGroupNames(rocAuc(df, y, score, groupNames.map(col), outName),
      groupNames)

  /** Rename the [[keyed]] group columns back to `groupNames`. */
  private def withGroupNames(res: DataFrame, groupNames: Seq[String])
      : DataFrame =
    groupNames.zipWithIndex.foldLeft(res) { case (d, (n, i)) =>
      d.withColumnRenamed(s"${P}g$i", n)
    }

  /** Gini = 2·AUC − 1. (metrics.py:400) */
  def gini(df: DataFrame, y: Column, score: Column,
           groupNames: Seq[String], outName: String = "gini"): DataFrame =
    rocAucNamed(df, y, score, groupNames, outName)
      .withColumn(outName, col(outName) * 2.0 - 1.0)

  /** TPR/FPR at every distinct threshold (descending), per group —
    * the reference's query_tpr_fpr (metrics.py:379) as an exploded table.
    * tpr(s) = P(score ≥ s | y=1), fpr(s) = P(score ≥ s | y=0). */
  def tprFpr(df: DataFrame, y: Column, score: Column,
             groupNames: Seq[String]): DataFrame = {
    val (t, g) = keyed(df, groupNames.map(col),
      Seq(y.cast("double").as(s"${P}y"), score.cast("double").as(s"${P}s")))
    val gc = g.map(col)
    val thr = t.groupBy((gc :+ col(s"${P}s")): _*)
      .agg(count(lit(1)).as(s"${P}cnt"), sum(s"${P}y").as(s"${P}pos"))
    val cum = GlobalCumsum.runningSumsBy(thr, gc, col(s"${P}s"),
      ascending = false,
      Seq(col(s"${P}pos") -> s"${P}cumPos", col(s"${P}cnt") -> s"${P}cumCnt"),
      Seq(col(s"${P}pos") -> s"${P}npos", col(s"${P}cnt") -> s"${P}n"))
    val res = cum
      .select(gc ++ Seq(
        col(s"${P}s").as("threshold"),
        (col(s"${P}cumPos") / col(s"${P}npos")).as("tpr"),
        ((col(s"${P}cumCnt") - col(s"${P}cumPos")) /
          (col(s"${P}n") - col(s"${P}npos"))).as("fpr")): _*)
    withGroupNames(res, groupNames)
  }

  /** sklearn-convention average precision per group:
    * AP = Σ_n (R_n − R_{n−1})·P_n over descending score thresholds —
    * the same distributed threshold-table + window machinery as
    * [[tprFpr]]. (metrics.py:495 query_binary_metrics AP component) */
  def averagePrecision(df: DataFrame, y: Column, score: Column,
                       groupNames: Seq[String]): DataFrame = {
    val (t, g) = keyed(df, groupNames.map(col),
      Seq(y.cast("double").as(s"${P}y"), score.cast("double").as(s"${P}s")))
    val gc = g.map(col)
    val thr = t.groupBy((gc :+ col(s"${P}s")): _*)
      .agg(count(lit(1)).as(s"${P}cnt"), sum(s"${P}y").as(s"${P}pos"))
    // R_{n-1} needs no lag(): the previous (higher-score) threshold's
    // cumPos is just cumPos - pos of the current row — so the whole op
    // is cumulative sums.
    val cum = GlobalCumsum.runningSumsBy(thr, gc, col(s"${P}s"),
      ascending = false,
      Seq(col(s"${P}pos") -> s"${P}cumPos", col(s"${P}cnt") -> s"${P}cumCnt"),
      Seq(col(s"${P}pos") -> s"${P}npos"))
    val res = cum
      .withColumn(s"${P}r", col(s"${P}cumPos") / col(s"${P}npos"))
      .withColumn(s"${P}p", col(s"${P}cumPos") / col(s"${P}cumCnt"))
      .withColumn(s"${P}rPrev",
        (col(s"${P}cumPos") - col(s"${P}pos")) / col(s"${P}npos"))
      .groupBy(gc: _*)
      .agg(sum((col(s"${P}r") - col(s"${P}rPrev")) * col(s"${P}p"))
        .as("avg_precision"))
    withGroupNames(res, groupNames)
  }

  /** Precision/recall/F1/ROC-AUC combo per group
    * (reference query_binary_metrics, metrics.py:495). Score is binarized
    * at `threshold` for the count-based fields. */
  def binaryMetrics(df: DataFrame, y: Column, score: Column,
                    groupNames: Seq[String], threshold: Double = 0.5)
      : DataFrame = {
    import graft.functions.Metrics
    val counts = df.groupBy(groupNames.map(col): _*).agg(
      Metrics.fScore(y.cast("long"), (score >= threshold).cast("long"))
        .as("f1"),
      Metrics.mcc(y.cast("long"), (score >= threshold).cast("long"))
        .as("mcc"))
    val auc = rocAucNamed(df, y, score, groupNames, "roc_auc")
    counts.join(auc, groupNames)
  }

  /** Mean / median absolute deviation per group.
    * center = "mean" | "median". Two aggregations + a broadcast join of
    * the (small) per-group centers — no per-group buffering.
    * (reference query_mad, metrics.py:46) */
  def mad(df: DataFrame, x: Column, groupNames: Seq[String],
          center: String = "median", outName: String = "mad"): DataFrame = {
    val xc = x.cast("double").as(s"${P}x")
    val t = df.select(groupNames.map(col) :+ xc: _*)
    val centerAgg = center match {
      case "mean" => avg(s"${P}x")
      case _      => expr(s"percentile(${P}x, 0.5)")
    }
    val centers = t.groupBy(groupNames.map(col): _*)
      .agg(centerAgg.as(s"${P}c"))
    val dev = abs(col(s"${P}x") - col(s"${P}c"))
    val devAgg = center match {
      case "mean" => avg(dev)
      case _      => expr(s"percentile(abs(${P}x - ${P}c), 0.5)")
    }
    t.join(broadcast(centers), groupNames)
      .groupBy(groupNames.map(col): _*)
      .agg(devAgg.as(outName))
  }

  /** MASE: mean (or median, use_mean=False) absolute scaled error vs
    * the seasonal-naive forecast over an explicit order column.
    * (metrics.py:275 query_mase) */
  def mase(df: DataFrame, order: Column, y: Column, p: Column,
           groupNames: Seq[String], period: Int = 1,
           outName: String = "mase",
           useMean: Boolean = true): DataFrame = {
    val w = Window.partitionBy(groupNames.map(col): _*).orderBy(order)
    def center(c: Column): Column =
      if (useMean) avg(c) else percentile(c, lit(0.5))
    df.withColumn(s"${P}naive", lag(y, period).over(w))
      .groupBy(groupNames.map(col): _*)
      .agg((center(abs(y - p)) / center(abs(y - col(s"${P}naive"))))
        .as(outName))
  }

  /** DCG and NDCG per group with linear gain rel/log2(rank+1), ranking by
    * `score` desc. Ties are broken by `tieBreak` (must be unique within a
    * group) so the result is deterministic and oracle-comparable.
    * (metrics.py:670 query_dcg_score / :736 query_ndcg_score) */
  def ndcg(df: DataFrame, rel: Column, score: Column, tieBreak: Column,
           groupNames: Seq[String], k: Int = Int.MaxValue,
           logBase: Double = 2.0): DataFrame = {
    val gc = groupNames.map(col)
    val wScore = Window.partitionBy(gc: _*).orderBy(score.desc, tieBreak)
    val wIdeal = Window.partitionBy(gc: _*).orderBy(rel.desc, tieBreak)
    val rk = row_number().over(wScore)
    val irk = row_number().over(wIdeal)
    // discount log_base(rank+1) (metrics.py:670 log_base); base 2
    // keeps the codegen'd log2
    def disc(r: Column): Column =
      if (logBase == 2.0) log2(r + 1.0)
      else log(r + 1.0) / math.log(logBase)
    val gain = when(rk <= k, rel.cast("double") / disc(rk))
      .otherwise(0.0)
    val igain = when(irk <= k, rel.cast("double") / disc(irk))
      .otherwise(0.0)
    df.select((gc :+ gain.as(s"${P}g") :+ igain.as(s"${P}ig")): _*)
      .groupBy(gc: _*)
      .agg(sum(s"${P}g").as("dcg"),
        (sum(s"${P}g") / sum(s"${P}ig")).as("ndcg"))
  }

  /** Tie-averaged DCG/NDCG (sklearn's `ignore_ties=False` semantics,
    * which the reference's query_dcg_score follows, metrics.py:670):
    * rows whose scores tie form a block, and every position a block
    * occupies earns the block's AVERAGE relevance — the result is
    * invariant to tie ordering, no tie-break column needed. Ideal DCG
    * ranks by relevance, where tie order never matters. */
  def ndcgTieAveraged(df: DataFrame, rel: Column, score: Column,
                      groupNames: Seq[String], k: Int = Int.MaxValue,
                      logBase: Double = 2.0)
      : DataFrame = {
    val gc = groupNames.map(col)
    val wScore = Window.partitionBy(gc: _*).orderBy(score.desc)
    val wBlock = Window.partitionBy(gc :+ score: _*)
    val wIdeal = Window.partitionBy(gc: _*).orderBy(rel.desc)
    val rk = row_number().over(wScore)
    val irk = row_number().over(wIdeal)
    val avgRel = avg(rel.cast("double")).over(wBlock)
    def disc(r: Column): Column =
      if (logBase == 2.0) log2(r + 1.0)
      else log(r + 1.0) / math.log(logBase)
    val gain = when(rk <= k, avgRel / disc(rk)).otherwise(0.0)
    val igain = when(irk <= k, rel.cast("double") / disc(irk))
      .otherwise(0.0)
    df.select((gc :+ gain.as(s"${P}g") :+ igain.as(s"${P}ig")): _*)
      .groupBy(gc: _*)
      .agg(sum(s"${P}g").as("dcg"),
        (sum(s"${P}g") / sum(s"${P}ig")).as("ndcg"))
  }

  /** Macro-average one-vs-rest multiclass ROC-AUC.
    * `probs` is an array column of per-class scores; class labels are
    * 0..nClasses-1. Weighted = prevalence-weighted average.
    * (metrics.py:531 query_multi_roc_auc)
    *
    * One pass: each row stacks into one (class k, y == k, probs[k])
    * record per class, and a single [[rocAuc]] keyed by (groups, k)
    * yields every class's AUC and its positive count (the weight). */
  def multiRocAuc(df: DataFrame, yClass: Column, probs: Column,
                  nClasses: Int, groupNames: Seq[String],
                  weighted: Boolean = false,
                  outName: String = "multi_roc_auc"): DataFrame = {
    require(nClasses >= 1, "multiRocAuc: need nClasses >= 1")
    val gc = groupNames.map(col)
    val stacked = df.select(gc :+ explode(array((0 until nClasses).map(k =>
      struct(lit(k).as("k"), (yClass === k).cast("int").as("y"),
        element_at(probs, k + 1).as("s"))): _*)).as(s"${P}e"): _*)
    val perClass = rocAucWithPositives(stacked, col(s"${P}e.y"),
      col(s"${P}e.s"), gc :+ col(s"${P}e.k"), s"${P}auc", Some(s"${P}w"))
    val wcol = if (weighted) col(s"${P}w") else lit(1.0)
    withGroupNames(perClass
      .groupBy(groupNames.indices.map(i => col(s"${P}g$i")): _*)
      .agg((sum(col(s"${P}auc") * wcol) / sum(wcol)).as(outName)),
      groupNames)
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 1970/2004,
    * public formula) — the general chance-corrected agreement
    * coefficient: any number of raters per unit, missing ratings
    * allowed (units with fewer than 2 ratings drop out). Via the
    * coincidence-matrix identities this reduces to pure count
    * algebra: Do·n = Σ_u (m_u² − Σ_c n_uc²)/(m_u−1),
    * De·n(n−1) = n² − Σ_c n_c², α = 1 − Do/De (null when De = 0 —
    * a single value corpus-wide).
    *
    * Scale shape: one map-side-combinable groupBy to (unit, value)
    * counts, a per-unit rollup, and two scalar aggregations — no
    * per-unit buffering, nothing collects. Returns one row
    * (n_units, n_ratings, alpha). */
  def krippendorffAlpha(df: DataFrame, unit: Column,
                        value: Column): DataFrame = {
    // ONE-PASS shape (r17, same recipe as [[fleissKappa]]): per-unit
    // m/Σn² ride a window over the (unit, value) count table; the
    // completeness filter applies in place; a (value) aggregation
    // yields the coincidence column totals AND the unit-level sums
    // (each unit's term carried once, on its min-value row); one final
    // 1-row aggregate closes the formula. Replaces the former 3-branch
    // plan (units aggregate + join-back + crossJoin of two 1-row
    // aggregates) that re-executed the scan subtree per branch.
    import org.apache.spark.sql.expressions.Window
    val vc = df.select(unit.as(s"${P}u"),
        value.cast("string").as(s"${P}v"))
      .filter(col(s"${P}v").isNotNull)
      .groupBy(col(s"${P}u"), col(s"${P}v"))
      .agg(count(lit(1)).as(s"${P}n"))
    val w = Window.partitionBy(col(s"${P}u"))
    val kept = vc
      .withColumn(s"${P}m", sum(s"${P}n").over(w))
      .withColumn(s"${P}sq",
        sum(col(s"${P}n") * col(s"${P}n")).over(w))
      .withColumn(s"${P}one", col(s"${P}v") === min(s"${P}v").over(w))
      .filter(col(s"${P}m") >= 2)
    val perV = kept.groupBy(col(s"${P}v"))
      .agg(sum(s"${P}n").as(s"${P}cn"),
        sum(when(col(s"${P}one"), 1L).otherwise(0L)).as(s"${P}nup"),
        sum(when(col(s"${P}one"), col(s"${P}m")).otherwise(0L))
          .as(s"${P}ntp"),
        sum(when(col(s"${P}one"),
          (col(s"${P}m") * col(s"${P}m") - col(s"${P}sq"))
            .cast("double") / (col(s"${P}m") - 1).cast("double"))
          .otherwise(0.0)).as(s"${P}dnp"))
    perV.agg(
        coalesce(sum(s"${P}nup"), lit(0L)).as(s"${P}nu"),
        sum(s"${P}ntp").as(s"${P}ntot"),
        sum(s"${P}dnp").as(s"${P}dn"),
        sum(col(s"${P}cn") * col(s"${P}cn")).as(s"${P}csq"))
      .select(
        col(s"${P}nu").as("n_units"),
        col(s"${P}ntot").as("n_ratings"), {
          val n = col(s"${P}ntot").cast("double")
          val doo = col(s"${P}dn") / n
          val de = (n * n - col(s"${P}csq").cast("double")) /
            (n * (n - 1))
          when(de > 0.0, lit(1.0) - doo / de).as("alpha")
        })
  }

  /** Binned calibration per group (the reliability-diagram table +
    * summary scalars every classifier eval needs): rows bucket by
    * score into `bins` equal-width bins; per bin the mean predicted
    * probability vs the observed positive rate; summaries are
    * ECE = Σ (n_b/n)·|acc_b − conf_b| (Naeini 2015) and the Brier
    * score mean((p−y)²) (Brier 1950). One map-side-combinable groupBy
    * on (group, bin) then a tiny per-group rollup — nothing holds a
    * group in memory. Returns one row per group:
    * (groups…, n, ece, brier) with `bins` controlling resolution. */
  def calibration(df: DataFrame, y: Column, p: Column,
                  groupNames: Seq[String], bins: Int = 10): DataFrame = {
    require(bins >= 2, "calibration: need bins >= 2")
    val gc = groupNames.map(col)
    // score exactly 1.0 folds into the top bin
    val bin = least(floor(p * bins).cast("int"), lit(bins - 1))
    val perBin = df
      .select((gc :+ bin.as(s"${P}b") :+ y.cast("double").as(s"${P}y")
        :+ p.cast("double").as(s"${P}p")): _*)
      .groupBy((gc :+ col(s"${P}b")): _*)
      .agg(count(lit(1)).as(s"${P}n"), avg(s"${P}y").as(s"${P}acc"),
        avg(s"${P}p").as(s"${P}conf"),
        sum((col(s"${P}p") - col(s"${P}y")) *
          (col(s"${P}p") - col(s"${P}y"))).as(s"${P}se"))
    perBin.groupBy(gc: _*)
      .agg(sum(s"${P}n").as("n"),
        (sum(abs(col(s"${P}acc") - col(s"${P}conf")) * col(s"${P}n")) /
          sum(s"${P}n")).as("ece"),
        (sum(s"${P}se") / sum(s"${P}n")).as("brier"))
  }

  /** Cohen's kappa per group (Cohen 1960, public formula) —
    * chance-corrected agreement of two raters over nominal labels:
    * κ = (p_o − p_e) / (1 − p_e), p_e = Σ_c p₁(c)·p₂(c). The
    * labeling-pipeline QA metric for double-annotated data.
    *
    * Scale shape: each row stacks into two label-keyed records, then
    * ONE map-side-combinable (group, label) aggregation produces both
    * marginals, the diagonal and the total (shuffle cardinality =
    * groups × labels ≪ rows), closed by a per-group rollup — a single
    * linear pipeline, no joins, no per-group buffering. Degenerate
    * p_e = 1 (both raters constant and identical) → null.
    * Null-labeled rows are dropped (pairwise). */
  def cohenKappa(df: DataFrame, r1: Column, r2: Column,
                 groupNames: Seq[String],
                 outName: String = "kappa"): DataFrame = {
    val gc = groupNames.map(col)
    // ONE-PASS shape (r17): each row stacks into two label-keyed
    // records — (label₁, 1 toward rater-1's marginal, diag flag) and
    // (label₂, 1 toward rater-2's marginal) — so a single (group,
    // label) aggregation yields BOTH marginals, the diagonal, and the
    // total at once. The former 4-branch formulation (joint table →
    // two marginal aggregates → join on label → join with totals)
    // re-executed the scan+aggregate subtree per branch under AQE
    // (ProfileOne: 6 concurrent single-task jobs per q_kappa run).
    // The count algebra is exact: Σ_l ca_l = t, Σ_l nd_l = d, and
    // labels missing from one rater's marginal contribute ca·cb = 0.
    // One difference from the former inner join on label: a group whose
    // raters use disjoint label sets now gets κ = 0 (p_o = p_e = 0, as
    // sklearn's cohen_kappa_score), where the join dropped the group.
    val a = r1.cast("string"); val b = r2.cast("string")
    val lbl = df
      .filter(a.isNotNull && b.isNotNull)
      .select((gc :+ explode(array(
        struct(a.as("l"), lit(1L).as("na"), lit(0L).as("nb"),
          when(a === b, 1L).otherwise(0L).as("nd")),
        struct(b.as("l"), lit(0L).as("na"), lit(1L).as("nb"),
          lit(0L).as("nd")))).as(s"${P}e")): _*)
    val marg = lbl
      .groupBy((gc :+ col(s"${P}e.l").as(s"${P}l")): _*)
      .agg(sum(col(s"${P}e.na")).as(s"${P}ca"),
        sum(col(s"${P}e.nb")).as(s"${P}cb"),
        sum(col(s"${P}e.nd")).as(s"${P}d"))
    marg.groupBy(gc: _*)
      .agg(sum(s"${P}ca").as(s"${P}t"),
        sum(s"${P}d").as(s"${P}d"),
        sum(col(s"${P}ca") * col(s"${P}cb")).as(s"${P}ab"))
      .select((gc :+ {
        val po = col(s"${P}d").cast("double") / col(s"${P}t")
        val peC = col(s"${P}ab").cast("double") /
          (col(s"${P}t") * col(s"${P}t"))
        when(peC < 1.0, (po - peC) / (lit(1.0) - peC)).as(outName)
      }): _*)
  }

  /** Fleiss' kappa (Fleiss 1971, public formula) over items rated by a
    * FIXED number of raters `n` each: P̄ mean per-item agreement,
    * P̄ₑ = Σ_c p_c², κ = (P̄ − P̄ₑ)/(1 − P̄ₑ). Input is one row per
    * (item, category) RATING (n rows per item); items without exactly
    * n ratings are dropped (the classic formula is undefined there —
    * the drop keeps the contract loud via the returned n_items).
    *
    * Scale shape: rows compress to (item, category) counts in one
    * map-side-combinable groupBy; per-item Σ n_ic² and the global
    * category totals are two small follow-up aggregations. Returns a
    * 1-row frame (n_items, kappa). */
  def fleissKappa(df: DataFrame, item: Column, category: Column,
                  n: Int): DataFrame = {
    require(n >= 2, "fleissKappa: need n >= 2 raters per item")
    // ONE-PASS shape (r17): per-item totals ride a window over the
    // (item, category) count table instead of a separate aggregate
    // that the completeness filter and the category totals then each
    // join back to (the former 4-branch plan re-executed the count
    // subtree per branch under AQE). One row per item (its min
    // category, no sort beyond the window's own clustering) carries
    // the per-item P̄ term; a (category) aggregation then yields both
    // the category totals and the item-level sums, and one final
    // 1-row aggregate closes the formula. Count algebra is exact;
    // P̄ becomes a two-level double sum (per-category partials) — same
    // arbitrary-order FP semantics as any distributed sum.
    import org.apache.spark.sql.expressions.Window
    val cnt = df.select(item.as(s"${P}i"),
        category.cast("string").as(s"${P}c"))
      .filter(col(s"${P}c").isNotNull)
      .groupBy(col(s"${P}i"), col(s"${P}c"))
      .agg(count(lit(1)).as(s"${P}n"))
    val w = Window.partitionBy(col(s"${P}i"))
    val kept = cnt
      .withColumn(s"${P}tot", sum(s"${P}n").over(w))
      .withColumn(s"${P}sq",
        sum(col(s"${P}n") * col(s"${P}n")).over(w))
      .withColumn(s"${P}one", col(s"${P}c") === min(s"${P}c").over(w))
      .filter(col(s"${P}tot") === n)
    val perCat = kept.groupBy(col(s"${P}c"))
      .agg(sum(s"${P}n").as(s"${P}cn"),
        sum(when(col(s"${P}one"), 1L).otherwise(0L)).as(s"${P}nip"),
        sum(when(col(s"${P}one"),
          (col(s"${P}sq") - n).cast("double") / (n.toDouble * (n - 1)))
          .otherwise(0.0)).as(s"${P}pbp"))
    perCat.agg(
        // zero complete items → zero perCat rows → sums are null; the
        // former count() reported 0 there, so coalesce keeps the
        // degenerate contract (n_items=0, kappa=null)
        coalesce(sum(s"${P}nip"), lit(0L)).as(s"${P}ni"),
        (sum(s"${P}pbp") / sum(s"${P}nip").cast("double"))
          .as(s"${P}pbar"),
        (sum(col(s"${P}cn") * col(s"${P}cn")).cast("double") /
          (sum(s"${P}cn").cast("double") *
            sum(s"${P}cn").cast("double"))).as(s"${P}pe"))
      .select(col(s"${P}ni").as("n_items"),
        when(col(s"${P}pe") < 1.0,
          (col(s"${P}pbar") - col(s"${P}pe")) /
            (lit(1.0) - col(s"${P}pe"))).as("kappa"))
  }

  /** pass@k over attempt-level eval rows (Chen et al. 2021, "Evaluating
    * Large Language Models Trained on Code", eq. 1 — the unbiased
    * estimator): per task with n attempts and c successes,
    * pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i=0..k−1} (n−c−i)/(n−i),
    * averaged over tasks. Tasks with n < k are EXCLUDED per k (the
    * estimator is undefined there — reported via n_tasks so a
    * mis-sized eval run is visible, never silently optimistic).
    *
    * Returns one row per group per k: {group, k, pass_at_k, n_tasks}.
    * Scale shape: one map-side-combinable (group, task) aggregation,
    * then the k-fold product as a pure Column expression and one
    * small aggregate per k — no window, no explode of attempts. */
  def passAtK(df: DataFrame, task: Column, correct: Column,
              ks: Seq[Int], groupNames: Seq[String]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 1000),
      s"passAtK: ks must be in [1,1000], got $ks")
    val gc = groupNames.map(col)
    val perTask = df.groupBy(gc :+ task.as(s"${P}task"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}n"),
        sum(when(correct, 1L).otherwise(0L)).cast("double").as(s"${P}c"))
    val n = col(s"${P}n"); val c = col(s"${P}c")
    val perK = ks.map { k =>
      val prod = (0 until k).map(i => (n - c - i) / (n - i))
        .reduce(_ * _)
      val pass = when(n - c < k, 1.0).otherwise(lit(1.0) - prod)
      perTask.where(n >= k)
        .groupBy(gc: _*)
        .agg(lit(k).as("k"), avg(pass).as("pass_at_k"),
          count(lit(1)).as("n_tasks"))
    }
    perK.reduce(_ unionByName _)
  }
}
