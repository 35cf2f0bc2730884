package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues
import graft.util.GlobalCumsum

/** Distributed statistical tests that need ranks, ECDFs, or two-level
  * aggregation (SURVEY §2.5, the order-sensitive rows). Same design rule
  * as [[MetricOps]]: compress to distinct values first (map-side
  * combinable groupBy), run windows over the compressed table, finish
  * with an algebraic aggregate. No per-group buffering anywhere.
  */
object StatOps {

  private val P = "__pds_"

  /** Kolmogorov–Smirnov two-sample test. `inFirst` marks membership of
    * sample 1; rows of the two samples live in the same frame (the
    * reference passes two columns — here two columns = two predicates
    * over a value column). Returns per-group {d, n1, n2, pvalue}.
    * ECDFs are compared at every distinct pooled value — exact D.
    * (stats.py:232; src/stats/ks.rs:52) */
  def ks2Samp(df: DataFrame, x: Column, inFirst: Column,
              groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}s1").as(s"${P}c1"),
        (count(lit(1)) - sum(s"${P}s1")).as(s"${P}c2"))
    val cum = GlobalCumsum.runningSumsBy(byV, gc, col(s"${P}x"),
      ascending = true,
      Seq(col(s"${P}c1") -> s"${P}f1", col(s"${P}c2") -> s"${P}f2"),
      Seq(col(s"${P}c1") -> s"${P}n1", col(s"${P}c2") -> s"${P}n2"))
    val res = cum.groupBy(gc: _*).agg(
      max(abs(col(s"${P}f1") / col(s"${P}n1") -
        col(s"${P}f2") / col(s"${P}n2"))).as("d"),
      first(col(s"${P}n1")).as("n1"),
      first(col(s"${P}n2")).as("n2"))
    res.withColumn("pvalue",
      PValues.ksSf(col("d"), col("n1").cast("double"),
        col("n2").cast("double")))
  }

  /** Mann–Whitney U (two-sided, normal approx with tie correction and
    * continuity correction, matching scipy's default asymptotic method).
    * Returns {u, z, pvalue} per group. (stats.py:331) */
  /** Mann–Whitney U with tie correction; `alternative` follows the
    * reference (mann_whitney_u.rs:47-52): two-sided tests max(U1,U2)
    * with factor 2, less tests U2, greater tests U1; p uses the
    * normal approximation with the +0.5 continuity shift, clamped to
    * [0,1]. The reported statistic is always U1. */
  def mannWhitneyU(df: DataFrame, x: Column, inFirst: Column,
                   groupNames: Seq[String],
                   alternative: String = "two-sided"): DataFrame = {
    require(Set("two-sided", "less", "greater")(alternative),
      s"unknown alternative '$alternative'")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(count(lit(1)).as(s"${P}cnt"), sum(s"${P}s1").as(s"${P}c1"))
    val ranked = GlobalCumsum.midRanks(byV, gc, col(s"${P}x"),
      col(s"${P}cnt"), s"${P}mid")
    // rank-sum of sample1 + tie term Σ(t³−t)
    val agg = ranked.groupBy(gc: _*).agg(
      sum(col(s"${P}c1") * col(s"${P}mid")).as(s"${P}r1"),
      sum(s"${P}c1").cast("double").as(s"${P}n1"),
      (sum(s"${P}cnt") - sum(s"${P}c1")).cast("double").as(s"${P}n2"),
      sum(col(s"${P}cnt") * col(s"${P}cnt") * col(s"${P}cnt") -
        col(s"${P}cnt")).cast("double").as(s"${P}ties"))
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val n = n1 + n2
    val u1 = col(s"${P}r1") - n1 * (n1 + 1.0) / 2.0
    val mu = n1 * n2 / 2.0
    val sigma = sqrt(n1 * n2 / 12.0 *
      ((n + 1.0) - col(s"${P}ties") / (n * (n - 1.0))))
    val (testU, factor) = alternative match {
      case "less"    => (n1 * n2 - u1, 1.0)
      case "greater" => (u1, 1.0)
      case _         => (greatest(u1, n1 * n2 - u1), 2.0)
    }
    val z = (testU - mu - 0.5) / sigma
    val p = least(greatest(PValues.normSf(z) * factor, lit(0.0)),
      lit(1.0))
    agg.select(gc ++ Seq(u1.as("u"), z.as("z"), p.as("pvalue")): _*)
  }

  /** Two-sample effect sizes per group (the report numbers next to a
    * t/U test): Cohen's d (pooled-SD standardized mean difference),
    * Hedges' g (Hedges 1981 small-sample correction
    * d·(1 − 3/(4N − 9))), and Cliff's delta (ordinal dominance,
    * tie-aware — derived from the tie-averaged rank-sum as
    * 2·U₁/(n₁n₂) − 1, the same U statistic Mann–Whitney tests).
    * d/g are null when either sample has < 2 rows or the pooled
    * variance is 0; delta is null when either sample is empty.
    *
    * Scale shape: moments come from ONE map-side-combinable
    * aggregation; the rank-sum reuses [[mannWhitneyU]]'s
    * distinct-value compression ([[GlobalCumsum.midRanks]], never a
    * row-cardinality sort). */
  def effectSizes(df: DataFrame, x: Column, inFirst: Column,
                  groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s1"): _*)
    val mom = t.groupBy(gc: _*).agg(
      sum(s"${P}s1").cast("double").as(s"${P}n1"),
      (count(lit(1)) - sum(s"${P}s1")).cast("double").as(s"${P}n2"),
      sum(col(s"${P}x") * col(s"${P}s1")).as(s"${P}sx1"),
      sum(col(s"${P}x") * col(s"${P}x") * col(s"${P}s1"))
        .as(s"${P}sq1"),
      sum(col(s"${P}x") * (lit(1) - col(s"${P}s1"))).as(s"${P}sx2"),
      sum(col(s"${P}x") * col(s"${P}x") * (lit(1) - col(s"${P}s1")))
        .as(s"${P}sq2"))
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(count(lit(1)).as(s"${P}cnt"), sum(s"${P}s1").as(s"${P}c1"))
    val ranked = GlobalCumsum.midRanks(byV, gc, col(s"${P}x"),
      col(s"${P}cnt"), s"${P}mid")
    val rs = ranked.groupBy(gc: _*)
      .agg(sum(col(s"${P}c1") * col(s"${P}mid")).as(s"${P}r1"))
    val j = mom.join(rs, groupNames)
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val m1 = col(s"${P}sx1") / n1
    val m2 = col(s"${P}sx2") / n2
    val v1 = (col(s"${P}sq1") - n1 * m1 * m1) / (n1 - 1)
    val v2 = (col(s"${P}sq2") - n2 * m2 * m2) / (n2 - 1)
    val sp = sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    val d = when(n1 >= 2 && n2 >= 2 && sp > 0, (m1 - m2) / sp)
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - 9.0))
    val u1 = col(s"${P}r1") - n1 * (n1 + 1.0) / 2.0
    val delta = when(n1 > 0 && n2 > 0,
      lit(2.0) * u1 / (n1 * n2) - 1.0)
    j.select(gc ++ Seq(n1.cast("long").as("n1"),
      n2.cast("long").as("n2"), d.as("cohen_d"), g.as("hedges_g"),
      delta.as("cliffs_delta")): _*)
  }

  /** Multiple-testing p-value adjustment per group (all public
    * procedures): "bonferroni" (n·p), "holm" (step-down: running max
    * of (n−i+1)·p₍ᵢ₎ in ascending-p order) and "bh" / FDR
    * (Benjamini–Hochberg step-up: suffix min of n·p₍ᵢ₎/i), each
    * clamped to 1. Tied p-values provably receive identical adjusted
    * values under both step procedures (the extremum over the
    * larger prefix/suffix absorbs the tie), so the result doesn't
    * depend on tie order. Returns (groups…, p, p_adj) per row.
    *
    * Scale shape: one ordered per-group window (running max or
    * reversed running min over the rank formula) — p-value tables are
    * test-per-hypothesis sized, far below row scale, but the plan
    * stays fully distributed anyway. */
  def pAdjust(df: DataFrame, p: Column, groupNames: Seq[String],
              method: String = "bh"): DataFrame = {
    require(Set("bh", "holm", "bonferroni")(method),
      s"pAdjust: unknown method '$method' (want bh|holm|bonferroni)")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ p.cast("double").as(s"${P}p"): _*)
      .filter(col(s"${P}p").isNotNull)
    val wG = Window.partitionBy(gc: _*)
    val n = count(lit(1)).over(wG).cast("double")
    val adj = method match {
      case "bonferroni" =>
        t.withColumn(s"${P}adj", least(lit(1.0), n * col(s"${P}p")))
      case "holm" =>
        val wUp = Window.partitionBy(gc: _*).orderBy(col(s"${P}p"))
        val i = row_number().over(wUp).cast("double")
        val wCum = wUp.rowsBetween(Window.unboundedPreceding, 0)
        t.withColumn(s"${P}adj", least(lit(1.0),
          max((n - i + 1.0) * col(s"${P}p")).over(wCum)))
      case _ =>
        val wDn = Window.partitionBy(gc: _*)
          .orderBy(col(s"${P}p").desc)
        val iDesc = row_number().over(wDn).cast("double")
        val i = n - iDesc + 1.0 // ascending rank
        val wSuf = wDn.rowsBetween(Window.unboundedPreceding, 0)
        t.withColumn(s"${P}adj", least(lit(1.0),
          min(n * col(s"${P}p") / i).over(wSuf)))
    }
    adj.select(gc ++ Seq(col(s"${P}p").as("p"),
      col(s"${P}adj").as("p_adj")): _*)
  }

  /** One-way ANOVA F test: `value` across the levels of `factor`,
    * per outer group. Returns {f, df1, df2, pvalue}.
    * (stats.py:280; src/stats/fstats.rs) */
  def fTest(df: DataFrame, value: Column, factor: Column,
            groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val perLevel = df
      .select(gc :+ factor.as(s"${P}f") :+ value.cast("double").as(s"${P}x"): _*)
      .groupBy(gc :+ col(s"${P}f"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}ng"),
        sum(s"${P}x").as(s"${P}sg"),
        sum(col(s"${P}x") * col(s"${P}x")).as(s"${P}ssg"))
    // SSW via Σx²−(Σx)²/n per level; SSB from level sums vs grand mean
    val res = perLevel.groupBy(gc: _*).agg(
      count(lit(1)).cast("double").as(s"${P}k"),
      sum(s"${P}ng").as(s"${P}n"),
      sum(col(s"${P}ssg") - col(s"${P}sg") * col(s"${P}sg") / col(s"${P}ng"))
        .as(s"${P}ssw"),
      sum(col(s"${P}sg") * col(s"${P}sg") / col(s"${P}ng")).as(s"${P}sb2"),
      sum(s"${P}sg").as(s"${P}stot"))
    val ssb = col(s"${P}sb2") -
      col(s"${P}stot") * col(s"${P}stot") / col(s"${P}n")
    val df1 = col(s"${P}k") - 1.0
    val df2 = col(s"${P}n") - col(s"${P}k")
    val f = (ssb / df1) / (col(s"${P}ssw") / df2)
    res.select(gc ++ Seq(f.as("f"), df1.as("df1"), df2.as("df2"),
      PValues.fSf(f, df1, df2).as("pvalue")): _*)
  }

  /** χ² independence test of two discrete columns per group:
    * {statistic, df, pvalue}. (stats.py:301; src/stats/chi2.rs) */
  def chi2(df: DataFrame, a: Column, b: Column,
           groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val obs = df.select(gc :+ a.as(s"${P}a") :+ b.as(s"${P}b"): _*)
      .groupBy(gc :+ col(s"${P}a") :+ col(s"${P}b"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}o"))
    val wA = Window.partitionBy(gc :+ col(s"${P}a"): _*)
    val wB = Window.partitionBy(gc :+ col(s"${P}b"): _*)
    val wT = Window.partitionBy(gc: _*)
    val withE = obs
      .withColumn(s"${P}ra", sum(s"${P}o").over(wA))
      .withColumn(s"${P}cb", sum(s"${P}o").over(wB))
      .withColumn(s"${P}n", sum(s"${P}o").over(wT))
      .withColumn(s"${P}e",
        col(s"${P}ra") * col(s"${P}cb") / col(s"${P}n"))
    val res = withE.groupBy(gc: _*).agg(
      sum(pow(col(s"${P}o") - col(s"${P}e"), 2) / col(s"${P}e"))
        .as("statistic"),
      ((countDistinct(s"${P}a") - 1) * (countDistinct(s"${P}b") - 1))
        .cast("double").as("df"))
    res.withColumn("pvalue", PValues.chi2Sf(col("statistic"), col("df")))
  }

  /** chi2(return_full=True) (stats.py:301; src/stats/chi2.rs:94
    * pl_chi2_full): one row per OBSERVED contingency cell carrying the
    * cell's expected frequency alongside the test result. The labels
    * (`a`, `b`) are included — strictly more informative than the
    * reference's positional E[freq] series. Same plan as [[chi2]] plus
    * a broadcast join of the per-group scalars back onto the cells. */
  def chi2Full(df: DataFrame, a: Column, b: Column,
               groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val obs = df.select(gc :+ a.as(s"${P}a") :+ b.as(s"${P}b"): _*)
      .groupBy(gc :+ col(s"${P}a") :+ col(s"${P}b"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}o"))
    val wA = Window.partitionBy(gc :+ col(s"${P}a"): _*)
    val wB = Window.partitionBy(gc :+ col(s"${P}b"): _*)
    val wT = Window.partitionBy(gc: _*)
    val withE = obs
      .withColumn(s"${P}e", sum(s"${P}o").over(wA) *
        sum(s"${P}o").over(wB) / sum(s"${P}o").over(wT))
    val scalars = withE.groupBy(gc: _*).agg(
      sum(pow(col(s"${P}o") - col(s"${P}e"), 2) / col(s"${P}e"))
        .as("statistic"),
      ((countDistinct(s"${P}a") - 1) * (countDistinct(s"${P}b") - 1))
        .cast("double").as("dof"))
      .withColumn("pvalue", PValues.chi2Sf(col("statistic"), col("dof")))
    withE.join(broadcast(scalars), groupNames).select(gc ++ Seq(
      col(s"${P}a").as("a"), col(s"${P}b").as("b"),
      col(s"${P}o").as("observed"), col(s"${P}e").as("expected"),
      col("statistic"), col("dof"), col("pvalue")): _*)
  }

  /** Spearman rank correlation via average ranks + Pearson corr on ranks.
    * (stats.py corr(method="spearman")) Rows whose x or y is null or
    * NaN are dropped before ranking (pairwise deletion, as pandas), so
    * a group with no complete pair has no output row.
    *
    * Grouped: one per-group window per column (partitioned by the
    * keys — bounded by group size, never single-partition). UNGROUPED:
    * ranks come from [[GlobalCumsum.midRanks]] over each column's
    * distinct-value table, joined back by value — every stage
    * distributed at any frame size. */
  def spearman(df: DataFrame, x: Column, y: Column,
               groupNames: Seq[String], outName: String = "spearman")
      : DataFrame = {
    val gc = groupNames.map(col)
    val cols = Seq(s"${P}x", s"${P}y")
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ y.cast("double").as(s"${P}y"): _*)
      .where(cols.map(c => col(c).isNotNull && !isnan(col(c))).reduce(_ && _))
    if (gc.isEmpty) {
      val ranked = cols.foldLeft(t) { (d, c) =>
        val counts = t.groupBy(col(c).as(s"${P}v"))
          .agg(count(lit(1)).as(s"${P}n"))
        val rankMap = GlobalCumsum.midRanks(counts, Nil, col(s"${P}v"),
          col(s"${P}n"), s"${P}r").select(s"${P}v", s"${P}r")
        d.join(rankMap, d(c) === rankMap(s"${P}v"), "left")
          .withColumn(c, col(s"${P}r")).drop(s"${P}v", s"${P}r")
      }
      ranked.agg(corr(col(s"${P}x"), col(s"${P}y")).as(outName))
    } else {
      // one window per column: rank r = 1 + #below and the peer-inclusive
      // running count r − 1 + t give (2r + t − 1) / 2 = r + (t − 1) / 2,
      // the same exact half-integer as a second (gc, c) tie-count window
      def avgRank(c: String): Column = {
        val w = Window.partitionBy(gc: _*).orderBy(col(c))
        (rank().over(w) + count(lit(1)).over(
          w.rangeBetween(Window.unboundedPreceding, Window.currentRow))) / 2
      }
      t.withColumn(s"${P}rx", avgRank(s"${P}x"))
        .withColumn(s"${P}ry", avgRank(s"${P}y"))
        .groupBy(gc: _*)
        .agg(corr(col(s"${P}rx"), col(s"${P}ry")).as(outName))
    }
  }

  /** Chatterjee ξ correlation, tie-aware form (order by x, ranks of y):
    * ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i(n − l_i)),
    * r_i = #{j: y_j ≤ y_i}, l_i = #{j: y_j ≥ y_i}.
    * (stats.py:1039; src/stats/xi_corr.rs) */
  def xiCorr(df: DataFrame, x: Column, y: Column, groupNames: Seq[String],
             outName: String = "xi",
             returnP: Boolean = false): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ y.cast("double").as(s"${P}y"): _*)
    if (gc.isEmpty)
      return xiCorrUngrouped(t, outName, returnP)
    val wT = Window.partitionBy(gc: _*)
    val wYle = Window.partitionBy(gc: _*).orderBy(col(s"${P}y"))
      .rangeBetween(Window.unboundedPreceding, 0)
    val wYge = Window.partitionBy(gc: _*).orderBy(col(s"${P}y").desc)
      .rangeBetween(Window.unboundedPreceding, 0)
    val wX = Window.partitionBy(gc: _*)
      .orderBy(col(s"${P}x"), col(s"${P}y"))
    val withRanks = t
      .withColumn(s"${P}r", count(lit(1)).over(wYle).cast("double"))
      .withColumn(s"${P}l", count(lit(1)).over(wYge).cast("double"))
      .withColumn(s"${P}n", count(lit(1)).over(wT).cast("double"))
      .withColumn(s"${P}rNext", lead(col(s"${P}r"), 1).over(wX))
    val agg = withRanks.groupBy(gc: _*).agg(
      (lit(1.0) - first(col(s"${P}n")) *
        sum(abs(col(s"${P}rNext") - col(s"${P}r"))) /
        (sum(col(s"${P}l") * (col(s"${P}n") - col(s"${P}l"))) * 2.0))
        .as(outName),
      first(col(s"${P}n")).as(s"${P}nn"))
    if (!returnP) agg.drop(s"${P}nn")
    else {
      // xi_corr.rs:36-43: NaN under n<30, else the asymptotic
      // two-sided normal p with Var(√n·ξ) = 2/5
      val z = sqrt(col(s"${P}nn")) * abs(col(outName)) /
        math.sqrt(0.4)
      agg.withColumn("pvalue",
          when(col(s"${P}nn") < 30.0, lit(Double.NaN))
            .otherwise(PValues.normSf(z) * 2.0))
        .drop(s"${P}nn")
    }
  }

  /** Ungrouped ξ without zero-column windows: grouped ξ uses per-group
    * windows (bounded by group size), but with no keys those windows
    * would drag the whole frame through ONE task. Here every piece is
    * distributed: r_i = #{y_j ≤ y_i} is the inclusive GlobalCumsum
    * running count over the distinct-y table (joined back by value),
    * l_i = n − r_i + count(y_i) algebraically, and the order statistic
    * Σ|r_{i+1} − r_i| over (x, y) order is computed with a range
    * partition + per-partition lead, plus the ≤ partition-count
    * boundary pairs (each partition's first/last rank by order —
    * min_by/max_by per pid, a partition-count-sized collect, the same
    * bounded "fit statistic" class as GlobalCumsum's offsets). Equal
    * (x, y) keys share a partition AND share r, so tie order is
    * irrelevant. All inputs are exact integers below 2^53 and the
    * final expression mirrors the grouped association order — the two
    * paths produce identical doubles. */
  private def xiCorrUngrouped(t: DataFrame, outName: String,
                              returnP: Boolean): DataFrame = {
    val spark = t.sparkSession
    val row = graft.util.Release.scopedValue(spark) {
      val counts = t.groupBy(col(s"${P}y"))
        .agg(count(lit(1)).as(s"${P}cv"))
      val cum = GlobalCumsum.runningSums(counts,
        col(s"${P}y"), ascending = true,
        Seq(col(s"${P}cv") -> s"${P}r"))
      val nRow = t.agg(count(lit(1)).cast("double").as(s"${P}n"))
      val withR = t.join(cum, Seq(s"${P}y"))
        .crossJoin(broadcast(nRow))
        .withColumn(s"${P}l",
          col(s"${P}n") - col(s"${P}r") + col(s"${P}cv"))
      val p = spark.sparkContext.defaultParallelism
      val parted = graft.util.Release.persist(withR
        .repartitionByRange(p, col(s"${P}x"), col(s"${P}y"))
        .withColumn(s"${P}pid", spark_partition_id()))
      val ord = struct(col(s"${P}x"), col(s"${P}y"))
      val bounds = parted.groupBy(col(s"${P}pid"))
        .agg(min_by(col(s"${P}r"), ord).as(s"${P}first"),
          max_by(col(s"${P}r"), ord).as(s"${P}last"))
        .orderBy(s"${P}pid")
        .collect()
      val boundarySum = bounds.iterator.sliding(2).withPartial(false)
        .map(w => math.abs(w(1).getDouble(1) - w(0).getDouble(2))).sum
      val wIn = Window.partitionBy(col(s"${P}pid"))
        .orderBy(col(s"${P}x"), col(s"${P}y"))
      val agg = parted
        .withColumn(s"${P}rNext", lead(col(s"${P}r"), 1).over(wIn))
        .agg(
          sum(abs(col(s"${P}rNext") - col(s"${P}r"))).as(s"${P}sd"),
          sum(col(s"${P}l") * (col(s"${P}n") - col(s"${P}l")))
            .as(s"${P}sl"),
          first(col(s"${P}n")).as(s"${P}nn"))
        .head
      (agg, boundarySum)
    }
    val (agg, boundarySum) = row
    val out =
      if (agg.isNullAt(2)) spark.range(1)
        .select(lit(null).cast("double").as(outName),
          lit(null).cast("double").as(s"${P}nn"))
      else {
        val n = agg.getDouble(2)
        val sd = (if (agg.isNullAt(0)) 0.0 else agg.getDouble(0)) +
          boundarySum
        val sl = agg.getDouble(1)
        // same association order as the grouped aggregate expression
        val xi = 1.0 - n * sd / (sl * 2.0)
        spark.range(1).select(lit(xi).as(outName),
          lit(n).as(s"${P}nn"))
      }
    if (!returnP) out.drop(s"${P}nn")
    else {
      val z = sqrt(col(s"${P}nn")) * abs(col(outName)) / math.sqrt(0.4)
      out.withColumn("pvalue",
          when(col(s"${P}nn") < 30.0, lit(Double.NaN))
            .otherwise(PValues.normSf(z) * 2.0))
        .drop(s"${P}nn")
    }
  }

  /** Biweight midcorrelation (astropy semantics: median/MAD weights,
    * rows with |u|≥1 or |v|≥1 excluded). Two aggregation passes + one
    * broadcast join of per-group centers. (stats.py:1001 bicor) */
  def bicor(df: DataFrame, x: Column, y: Column, groupNames: Seq[String],
            outName: String = "bicor", c: Double = 9.0): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ y.cast("double").as(s"${P}y"): _*)
    val centers = t.groupBy(gc: _*).agg(
      expr(s"percentile(${P}x, 0.5)").as(s"${P}mx"),
      expr(s"percentile(${P}y, 0.5)").as(s"${P}my"))
    val t2 = t.join(broadcast(centers), groupNames)
    val mads = t2.groupBy(gc: _*).agg(
      expr(s"percentile(abs(${P}x - ${P}mx), 0.5)").as(s"${P}madx"),
      expr(s"percentile(abs(${P}y - ${P}my), 0.5)").as(s"${P}mady"))
    val t3 = t2.join(broadcast(mads), groupNames)
      .withColumn(s"${P}u", (col(s"${P}x") - col(s"${P}mx")) /
        (col(s"${P}madx") * c))
      .withColumn(s"${P}v", (col(s"${P}y") - col(s"${P}my")) /
        (col(s"${P}mady") * c))
      .withColumn(s"${P}wu",
        when(abs(col(s"${P}u")) < 1.0,
          pow(lit(1.0) - col(s"${P}u") * col(s"${P}u"), 2)).otherwise(0.0))
      .withColumn(s"${P}wv",
        when(abs(col(s"${P}v")) < 1.0,
          pow(lit(1.0) - col(s"${P}v") * col(s"${P}v"), 2)).otherwise(0.0))
      .withColumn(s"${P}dx", (col(s"${P}x") - col(s"${P}mx")) * col(s"${P}wu"))
      .withColumn(s"${P}dy", (col(s"${P}y") - col(s"${P}my")) * col(s"${P}wv"))
    t3.groupBy(gc: _*).agg(
      (sum(col(s"${P}dx") * col(s"${P}dy")) /
        (sqrt(sum(col(s"${P}dx") * col(s"${P}dx"))) *
          sqrt(sum(col(s"${P}dy") * col(s"${P}dy"))))).as(outName))
  }

  /** Winsorized mean: clip at [lo, hi] percentiles then average.
    * (stats.py:375 winsorize — the transform; this is its agg use.)
    * Quantile `method` follows the reference's default "nearest"
    * (polars interpolation); also supports lower/higher/midpoint/
    * linear. Bounds come from one in-group rank pass: row_number +
    * per-group count, then a conditional min on the method's rank —
    * one sort-shuffle on the group key, no global sort. */
  def winsorizedMean(df: DataFrame, x: Column, groupNames: Seq[String],
                     lo: Double = 0.05, hi: Double = 0.95,
                     outName: String = "wmean",
                     method: String = "nearest"): DataFrame = {
    require(graft.util.Quantiles.methods(method),
      s"unknown quantile method '$method'")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x"): _*)
      .where(col(s"${P}x").isNotNull)
    val wRank = Window.partitionBy(gc: _*).orderBy(col(s"${P}x"))
    val wGrp = Window.partitionBy(gc: _*)
    val ranked = t
      .withColumn(s"${P}rn", row_number().over(wRank).cast("double") - 1)
      .withColumn(s"${P}n", count(lit(1)).over(wGrp).cast("double"))
    // order statistics at the floor/ceil/method rank of q·(n−1),
    // per group, via conditional aggregation (exactly one row matches)
    def stat(q: Double, tag: String): Seq[Column] = {
      val idx = lit(q) * (col(s"${P}n") - 1.0)
      val k = method match {
        case "lower"   => floor(idx)
        case "higher"  => ceil(idx)
        case "nearest" => round(idx) // HALF_UP = half away for idx >= 0
        case _         => null
      }
      if (k != null)
        Seq(min(when(col(s"${P}rn") === k, col(s"${P}x")))
          .as(s"${P}$tag"))
      else
        Seq(min(when(col(s"${P}rn") === floor(idx), col(s"${P}x")))
            .as(s"${P}${tag}_f"),
          min(when(col(s"${P}rn") === ceil(idx), col(s"${P}x")))
            .as(s"${P}${tag}_c"),
          first(idx).as(s"${P}${tag}_i"))
    }
    def combine(tag: String): Column = method match {
      case "midpoint" =>
        (col(s"${P}${tag}_f") + col(s"${P}${tag}_c")) / 2.0
      case "linear" =>
        col(s"${P}${tag}_f") +
          (col(s"${P}${tag}_i") - floor(col(s"${P}${tag}_i"))) *
            (col(s"${P}${tag}_c") - col(s"${P}${tag}_f"))
      case _ => col(s"${P}$tag")
    }
    val aggCols = stat(lo, "lo") ++ stat(hi, "hi")
    val bounds = ranked.groupBy(gc: _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(gc ++ Seq(combine("lo").as(s"${P}lo"),
        combine("hi").as(s"${P}hi")): _*)
    t.join(broadcast(bounds), groupNames)
      .groupBy(gc: _*)
      .agg(avg(least(greatest(col(s"${P}x"), col(s"${P}lo")),
        col(s"${P}hi"))).as(outName))
  }

  /** Kruskal–Wallis H test (one-way ANOVA on ranks, k ≥ 2 levels) per
    * group: {h, df, pvalue}. Tie-corrected: H' = H / (1 − Σ(t³−t)/
    * (N³−N)); p from χ²(k−1) (the standard large-sample reference
    * distribution). Same distinct-value compression as
    * [[mannWhitneyU]]: ranks are computed on the value→count table
    * ([[GlobalCumsum.midRanks]] — never a row-cardinality sort), each
    * (value, level) pair then carries its tie-averaged rank by
    * construction, and the finish is one algebraic aggregate
    * of Σrank²/n per level. */
  def kruskalWallis(df: DataFrame, x: Column, factor: Column,
                    groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ factor.as(s"${P}f")
      :+ x.cast("double").as(s"${P}x"): _*)
      .where(col(s"${P}x").isNotNull && !isnan(col(s"${P}x")))
    // per (value, level) counts, then per value (pooled) counts
    val byVF = t.groupBy(gc :+ col(s"${P}x") :+ col(s"${P}f"): _*)
      .agg(count(lit(1)).as(s"${P}cf"))
    val byV = byVF.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}cf").as(s"${P}cnt"))
    val withRank = GlobalCumsum.midRanks(byV, gc, col(s"${P}x"),
      col(s"${P}cnt"), s"${P}rank")
    val joinKeys = (groupNames :+ s"${P}x")
    // each (value, level) inherits the pooled tie-averaged rank
    val perLevel = byVF.join(withRank, joinKeys)
      .groupBy(gc :+ col(s"${P}f"): _*)
      .agg(sum(col(s"${P}cf") * col(s"${P}rank")).as(s"${P}rf"),
        sum(s"${P}cf").cast("double").as(s"${P}nf"))
    val ties = withRank.groupBy(gc: _*)
      .agg(sum(col(s"${P}cnt") * col(s"${P}cnt") * col(s"${P}cnt") -
        col(s"${P}cnt")).cast("double").as(s"${P}ties"))
    // Σ rf²/nf folded in level order: a plain sum adds the terms in
    // whatever order the rows arrive (AQE's join choice reorders them),
    // and the cancellation in H amplifies that last-bit difference.
    // rf (a sum of count × half-integer ranks), nf and n are exact.
    val r2 = aggregate(
      array_sort(collect_list(struct(col(s"${P}f").as("f"),
        col(s"${P}rf").as("rf"), col(s"${P}nf").as("nf")))),
      lit(0.0),
      (acc, t) => acc + t("rf") * t("rf") / t("nf"))
    val agg = perLevel.groupBy(gc: _*)
      .agg(count(lit(1)).cast("double").as(s"${P}k"),
        sum(s"${P}nf").as(s"${P}n"),
        r2.as(s"${P}r2"))
    val joined = agg.join(ties, groupNames)
    val n = col(s"${P}n")
    val h = lit(12.0) / (n * (n + 1.0)) * col(s"${P}r2") -
      lit(3.0) * (n + 1.0)
    val corr = lit(1.0) - col(s"${P}ties") / (n * n * n - n)
    val hc = h / corr
    val dfc = col(s"${P}k") - 1.0
    joined.select(gc ++ Seq(hc.as("h"), dfc.as("df"),
      PValues.chi2Sf(hc, dfc).as("pvalue")): _*)
  }

  /** Levene test for equal variances across k levels, per group:
    * {w, df1, df2, pvalue}. `center` = "mean" (original Levene) or
    * "median" (Brown–Forsythe, the robust default). The statistic is
    * literally the one-way ANOVA F on z = |x − center_level|, so the
    * finish reuses [[fTest]]. Medians are exact, computed per level
    * from the distinct-value table with a keyed window (partitioned
    * by (group, level) — never a single-task window); the center
    * table is broadcast back (k·groups rows). */
  def levene(df: DataFrame, x: Column, factor: Column,
             groupNames: Seq[String],
             center: String = "median"): DataFrame = {
    require(center == "mean" || center == "median",
      s"levene: center must be mean|median, got '$center'")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ factor.as(s"${P}f")
      :+ x.cast("double").as(s"${P}x"): _*)
      .where(col(s"${P}x").isNotNull && !isnan(col(s"${P}x")))
    val keys = groupNames :+ s"${P}f"
    val centers =
      if (center == "mean")
        t.groupBy(keys.map(col): _*).agg(avg(s"${P}x").as(s"${P}c"))
      else {
        // exact per-level median from the value→count table: the two
        // middle order statistics bracket rank (n±1)/2
        val byV = t.groupBy(keys.map(col) :+ col(s"${P}x"): _*)
          .agg(count(lit(1)).as(s"${P}cnt"))
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(s"${P}x"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = byV.withColumn(s"${P}cum", sum(s"${P}cnt").over(w))
        val wk = Window.partitionBy(keys.map(col): _*)
        val withN = cum.withColumn(s"${P}nn", max(s"${P}cum").over(wk))
        // Column `/` is DOUBLE division — floor for the 1-based
        // middle order-statistic ranks
        val kLo = floor((col(s"${P}nn") + 1L) / 2L) // lower middle
        val kHi = floor(col(s"${P}nn") / 2L) + 1L   // upper middle
        withN.groupBy(keys.map(col): _*)
          .agg(((min(when(col(s"${P}cum") >= kLo, col(s"${P}x"))) +
            min(when(col(s"${P}cum") >= kHi, col(s"${P}x")))) / 2.0)
            .as(s"${P}c"))
      }
    val z = t.join(broadcast(centers), keys)
      .select(gc :+ col(s"${P}f").as(s"${P}lv")
        :+ abs(col(s"${P}x") - col(s"${P}c")).as(s"${P}z"): _*)
    fTest(z, col(s"${P}z"), col(s"${P}lv"), groupNames)
      .withColumnRenamed("f", "w")
  }

  /** Wilcoxon signed-rank test for PAIRED samples per group (the
    * paired sibling of [[mannWhitneyU]] — the standard "did model B
    * beat model A on the same eval set" test): {w_plus, z, pvalue, n}.
    * d = x − y; zero differences are dropped (Wilcoxon's original
    * zero rule, scipy's default); |d| ranks are tie-averaged;
    * z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48), two-sided
    * normal p (the large-sample reference, n ≳ 20).
    *
    * Scale shape: identical to [[mannWhitneyU]] — compress to the
    * distinct-|d| table (map-side combinable), rank with
    * [[GlobalCumsum.midRanks]], finish with one algebraic aggregate. */
  def wilcoxonSignedRank(df: DataFrame, x: Column, y: Column,
                         groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val d = df.select(gc :+
      (x.cast("double") - y.cast("double")).as(s"${P}d"): _*)
      .where(col(s"${P}d").isNotNull && !isnan(col(s"${P}d")) &&
        col(s"${P}d") =!= 0.0)
    val byV = d.groupBy(gc :+ abs(col(s"${P}d")).as(s"${P}a"): _*)
      .agg(count(lit(1)).as(s"${P}cnt"),
        sum(when(col(s"${P}d") > 0, 1L).otherwise(0L)).as(s"${P}cp"))
    val ranked = GlobalCumsum.midRanks(byV, gc, col(s"${P}a"),
      col(s"${P}cnt"), s"${P}mid")
    val agg = ranked.groupBy(gc: _*).agg(
      sum(col(s"${P}cp") * col(s"${P}mid")).as(s"${P}wp"),
      sum(s"${P}cnt").cast("double").as(s"${P}n"),
      sum(col(s"${P}cnt") * col(s"${P}cnt") * col(s"${P}cnt") -
        col(s"${P}cnt")).cast("double").as(s"${P}ties"))
    val n = col(s"${P}n")
    val mu = n * (n + 1.0) / 4.0
    val sigma = sqrt(n * (n + 1.0) * (n * 2.0 + 1.0) / 24.0 -
      col(s"${P}ties") / 48.0)
    val z = (col(s"${P}wp") - mu) / sigma
    agg.select(gc ++ Seq(col(s"${P}wp").as("w_plus"), z.as("z"),
      PValues.normSf2(abs(z)).as("pvalue"),
      n.cast("long").as("n")): _*)
  }

  /** McNemar's test for paired BINARY outcomes per group (same items
    * scored by two systems): {b, c, statistic, pvalue}. b = A-only
    * successes, c = B-only; continuity-corrected χ²₁ statistic
    * (|b−c|−1)²/(b+c) (McNemar 1947, the Edwards correction) — the
    * standard significance test for "model B flipped more items to
    * correct than it broke". One map-side-combinable aggregation. */
  def mcnemar(df: DataFrame, aCorrect: Column, bCorrect: Column,
              groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val agg = df.groupBy(gc: _*).agg(
      sum(when(aCorrect && !bCorrect, 1L).otherwise(0L))
        .cast("double").as(s"${P}b"),
      sum(when(!aCorrect && bCorrect, 1L).otherwise(0L))
        .cast("double").as(s"${P}c"))
    val b = col(s"${P}b"); val c = col(s"${P}c")
    val stat = when(b + c > 0,
      (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c))
      .otherwise(0.0)
    agg.select(gc ++ Seq(b.cast("long").as("b"), c.cast("long").as("c"),
      stat.as("statistic"),
      PValues.chi2Sf(stat, lit(1.0)).as("pvalue")): _*)
  }

  /** Welch's ANOVA per group — the k-level F test that does NOT
    * assume equal variances (Welch 1951), the omnibus sibling of
    * [[graft.functions.Stats.tTestWelch]]:
    * {f, df1, df2, pvalue} with w_i = n_i/s_i², W = Σw_i,
    * F* = Σw_i(m_i − m̄_w)²/(k−1) / (1 + 2(k−2)/(k²−1)·Λ),
    * Λ = Σ(1−w_i/W)²/(n_i−1), df2 = (k²−1)/(3Λ).
    * Two nested map-side aggregations, no window. */
  def welchAnova(df: DataFrame, value: Column, factor: Column,
                 groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val perLevel = df
      .select(gc :+ factor.as(s"${P}f")
        :+ value.cast("double").as(s"${P}x"): _*)
      .groupBy(gc :+ col(s"${P}f"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}ng"),
        avg(s"${P}x").as(s"${P}mg"),
        var_samp(s"${P}x").as(s"${P}vg"))
      .withColumn(s"${P}w", col(s"${P}ng") / col(s"${P}vg"))
    // total weight per group via a broadcast join (k·groups rows)
    val totals = perLevel.groupBy(gc: _*)
      .agg(sum(s"${P}w").as(s"${P}Wt"))
    val withW = perLevel.join(broadcast(totals), groupNames)
    val agg = withW.groupBy(gc: _*).agg(
      count(lit(1)).cast("double").as(s"${P}k"),
      sum(s"${P}w").as(s"${P}W"),
      sum(col(s"${P}w") * col(s"${P}mg")).as(s"${P}wm"),
      sum(col(s"${P}w") * col(s"${P}mg") * col(s"${P}mg")).as(s"${P}wm2"),
      sum(
        (lit(1.0) - col(s"${P}w") / col(s"${P}Wt")) *
        (lit(1.0) - col(s"${P}w") / col(s"${P}Wt")) /
          (col(s"${P}ng") - 1.0))
        .as(s"${P}lam"))
    val k = col(s"${P}k")
    // Σw(m−m̄w)² = Σwm² − (Σwm)²/W
    val num = (col(s"${P}wm2") -
      col(s"${P}wm") * col(s"${P}wm") / col(s"${P}W")) / (k - 1.0)
    val lam = col(s"${P}lam")
    val den = lit(1.0) + lit(2.0) * (k - 2.0) / (k * k - 1.0) * lam
    val f = num / den
    val df2 = (k * k - 1.0) / (lit(3.0) * lam)
    agg.select(gc ++ Seq(f.as("f"), (k - 1.0).as("df1"), df2.as("df2"),
      PValues.fSf(f, k - 1.0, df2).as("pvalue")): _*)
  }
}
