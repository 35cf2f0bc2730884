package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues

/** Omnibus normality / k-sample / post-hoc tests that close the gap
  * between the repo's ANOVA-family tests (f_test, kruskalWallis,
  * welchAnova, levene) and what an analyst reaches for NEXT: which
  * levels differ (Tukey HSD, Dunn), blocked designs (Friedman,
  * Cochran's Q), the heteroscedastic rank alternative to
  * Mann-Whitney (Brunner-Munzel), and moment-based normality
  * (Jarque-Bera). All plans follow the family rules: two-pass central
  * moments (mean joined back — no single-pass x^4 cancellation),
  * tie-averaged ranks by distinct-value compression (never a row
  * sort), pairwise work only on the k-level aggregate table (k rows,
  * k^2/2 pairs — never on rows). P-values ride along via PValues
  * (chi2 / t / normal), excluded from oracle projections per the
  * DiagOps convention.
  */
object PostHocOps {

  private val P = "__ph_"

  /** Jarque-Bera normality test per group: with two-pass central
    * moments m_k = mean((x - mean)^k),
    *   skew = m3 / m2^1.5, exkurt = m4 / m2^2 - 3,
    *   JB = n/6 * (skew^2 + exkurt^2 / 4),  chi2(2) p-value.
    * Returns {groups..., n, skewness, ex_kurtosis, statistic, pvalue}. */
  def jarqueBera(df: DataFrame, x: Column,
                 groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x"): _*)
    val m = base.groupBy(gc: _*)
      .agg(avg(s"${P}x").as(s"${P}mu"),
        count(lit(1)).cast("double").as(s"${P}n"))
    val d = col(s"${P}x") - col(s"${P}mu")
    val agged = base.join(m, groupNames)
      .groupBy(gc: _*)
      .agg(avg(d * d).as(s"${P}m2"), avg(d * d * d).as(s"${P}m3"),
        avg(d * d * d * d).as(s"${P}m4"), first(s"${P}n").as(s"${P}n"))
    val skew = col(s"${P}m3") / pow(col(s"${P}m2"), 1.5)
    val exk = col(s"${P}m4") / (col(s"${P}m2") * col(s"${P}m2")) - 3.0
    val jb = col(s"${P}n") / 6.0 * (skew * skew + exk * exk / 4.0)
    agged.select(gc ++ Seq(col(s"${P}n").cast("long").as("n"),
      skew.as("skewness"), exk.as("ex_kurtosis"), jb.as("statistic"),
      PValues.chi2Sf(jb, lit(2.0)).as("pvalue")): _*)
  }

  /** Brunner-Munzel test (two-sided, t approximation with
    * Satterthwaite df — scipy's default) between the sample where
    * `inFirst` and the rest, per group. Works on the distinct
    * (value, sample) compression: pooled and within-sample
    * tie-averaged ranks both come from below-counts, then
    *   W  = n1 n2 (Rbar2 - Rbar1) / ((n1+n2) sqrt(n1 S1^2 + n2 S2^2)),
    *   Sk^2 = var over sample k of (R - H - Rbar_k + (n_k+1)/2),
    *   p_hat = (Rbar2 - (n2+1)/2) / n1   (P(X<Y) + P(X=Y)/2).
    * Returns {groups..., n1, n2, statistic, df, p_hat, pvalue}. */
  def brunnerMunzel(df: DataFrame, x: Column, inFirst: Column,
                    groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("int").as(s"${P}s"): _*)
    val byVS = t.groupBy(gc :+ col(s"${P}x") :+ col(s"${P}s"): _*)
      .agg(count(lit(1)).as(s"${P}cf"))
    // pooled rank: below-count over distinct values (both samples)
    val byV = byVS.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(sum(s"${P}cf").as(s"${P}cnt"))
    val wBelow = Window.partitionBy(gc: _*).orderBy(col(s"${P}x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pooled = byV.withColumn(s"${P}r",
      coalesce(sum(s"${P}cnt").over(wBelow), lit(0L)) +
        (col(s"${P}cnt") + 1.0) / 2.0)
      .select((gc :+ col(s"${P}x") :+ col(s"${P}r")): _*)
    // within-sample rank: below-count within (group, sample)
    val wBelowS = Window.partitionBy(gc :+ col(s"${P}s"): _*)
      .orderBy(col(s"${P}x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = byVS.withColumn(s"${P}h",
      coalesce(sum(s"${P}cf").over(wBelowS), lit(0L)) +
        (col(s"${P}cf") + 1.0) / 2.0)
    val joined = within.join(pooled, groupNames :+ s"${P}x")
    val isX = col(s"${P}s") === 1
    val cf = col(s"${P}cf").cast("double")
    val agged = joined.groupBy(gc: _*)
      .agg(sum(when(isX, cf)).as(s"${P}n1"),
        sum(when(!isX, cf)).as(s"${P}n2"),
        sum(when(isX, cf * col(s"${P}r"))).as(s"${P}sr1"),
        sum(when(!isX, cf * col(s"${P}r"))).as(s"${P}sr2"),
        sum(when(isX, cf * pow(col(s"${P}r") - col(s"${P}h"), 2.0)))
          .as(s"${P}q1"),
        sum(when(!isX, cf * pow(col(s"${P}r") - col(s"${P}h"), 2.0)))
          .as(s"${P}q2"),
        sum(when(isX, cf * (col(s"${P}r") - col(s"${P}h"))))
          .as(s"${P}l1"),
        sum(when(!isX, cf * (col(s"${P}r") - col(s"${P}h"))))
          .as(s"${P}l2"))
    val n1 = col(s"${P}n1"); val n2 = col(s"${P}n2")
    val rb1 = col(s"${P}sr1") / n1; val rb2 = col(s"${P}sr2") / n2
    // Var of (R - H) over each sample from the (sum, sum-of-squares)
    // pair: the centering constant Rbar_k - (n_k+1)/2 is the mean of
    // (R - H) over sample k, so Sk^2 is the plain sample variance.
    val s1 = (col(s"${P}q1") - col(s"${P}l1") * col(s"${P}l1") / n1) /
      (n1 - 1.0)
    val s2 = (col(s"${P}q2") - col(s"${P}l2") * col(s"${P}l2") / n2) /
      (n2 - 1.0)
    val se = sqrt(n1 * s1 + n2 * s2)
    val w = n1 * n2 * (rb2 - rb1) / ((n1 + n2) * se)
    val dfW = pow(n1 * s1 + n2 * s2, 2.0) /
      (pow(n1 * s1, 2.0) / (n1 - 1.0) + pow(n2 * s2, 2.0) / (n2 - 1.0))
    val pHat = (rb2 - (n2 + 1.0) / 2.0) / n1
    agged.select(gc ++ Seq(n1.cast("long").as("n1"),
      n2.cast("long").as("n2"), w.as("statistic"), dfW.as("df"),
      pHat.as("p_hat"),
      PValues.tSf(w, dfW).as("pvalue")): _*)
  }

  /** Tukey HSD studentized-range statistics for every level pair of
    * `factor`: with level means m_j, counts n_j and the pooled
    * within-group MSE (two-pass),
    *   se_ij = sqrt(MSE/2 * (1/n_i + 1/n_j)),  q_ij = |m_i - m_j| / se.
    * Returns one row per unordered pair {level_a < level_b}:
    * {level_a, level_b, n_a, n_b, diff (m_b - m_a), se, q, df_error}.
    * The pairwise join runs on the k-row level table. (The studentized
    * range p-value has no closed form; callers compare q against
    * q_crit(k, df) — documented contract.) */
  def tukeyHsd(df: DataFrame, x: Column, factor: Column): DataFrame = {
    val base = df.select(factor.as(s"${P}f"),
      x.cast("double").as(s"${P}x"))
    val lv = base.groupBy(s"${P}f")
      .agg(avg(s"${P}x").as(s"${P}m"),
        count(lit(1)).cast("double").as(s"${P}nf"))
    val sse = base.join(lv, Seq(s"${P}f"))
      .agg(sum(pow(col(s"${P}x") - col(s"${P}m"), 2.0)).as(s"${P}sse"),
        sum(lit(1.0)).as(s"${P}n"),
        countDistinct(col(s"${P}f")).cast("double").as(s"${P}k"))
      .withColumn(s"${P}mse",
        col(s"${P}sse") / (col(s"${P}n") - col(s"${P}k")))
    val a = lv.select(col(s"${P}f").as("level_a"),
      col(s"${P}m").as(s"${P}ma"), col(s"${P}nf").as(s"${P}na"))
    val b = lv.select(col(s"${P}f").as("level_b"),
      col(s"${P}m").as(s"${P}mb"), col(s"${P}nf").as(s"${P}nb"))
    val pairs = a.join(b, col("level_a") < col("level_b"))
      .crossJoin(broadcast(sse))
    val se = sqrt(col(s"${P}mse") / 2.0 *
      (lit(1.0) / col(s"${P}na") + lit(1.0) / col(s"${P}nb")))
    pairs.select(col("level_a"), col("level_b"),
      col(s"${P}na").cast("long").as("n_a"),
      col(s"${P}nb").cast("long").as("n_b"),
      (col(s"${P}mb") - col(s"${P}ma")).as("diff"), se.as("se"),
      (abs(col(s"${P}mb") - col(s"${P}ma")) / se).as("q"),
      (col(s"${P}n") - col(s"${P}k")).as("df_error"))
  }

  /** Friedman chi-squared test on a blocked design: cells are the
    * MEAN of x per (block, treatment) (documented collapse), blocks
    * missing any of the k global treatments are dropped, ranks are
    * tie-averaged within block, and the tie-corrected statistic is
    *   chi2 = [12/(n k (k+1)) * sum_j Rj^2 - 3 n (k+1)] / c,
    *   c = 1 - sum_blocks sum_ties (t^3 - t) / (n k (k^2 - 1)),
    * df = k - 1 (scipy friedmanchisquare). Returns one row
    * {n_blocks, k, statistic, df, pvalue}. Block-local windows only —
    * a block is k cells, so no partition exceeds k rows. */
  def friedman(df: DataFrame, x: Column, block: Column,
               treatment: Column): DataFrame = {
    val cells = df.select(block.as(s"${P}b"), treatment.as(s"${P}t"),
        x.cast("double").as(s"${P}x"))
      .groupBy(s"${P}b", s"${P}t").agg(avg(s"${P}x").as(s"${P}v"))
    val k = cells.agg(countDistinct(col(s"${P}t")).cast("double")
      .as(s"${P}k"))
    val full = cells
      .withColumn(s"${P}bc",
        count(lit(1)).over(Window.partitionBy(s"${P}b")))
      .crossJoin(broadcast(k))
      .filter(col(s"${P}bc") === col(s"${P}k"))
    // tie-averaged rank = min-rank + (ties-1)/2: rank() is
    // tie-deterministic where a preceding-rows count is not
    val wB = Window.partitionBy(s"${P}b").orderBy(col(s"${P}v"))
    val wTie = Window.partitionBy(col(s"${P}b"), col(s"${P}v"))
    val ranked = full
      .withColumn(s"${P}tc", count(lit(1)).over(wTie).cast("double"))
      .withColumn(s"${P}r",
        rank().over(wB).cast("double") + (col(s"${P}tc") - 1.0) / 2.0)
    // rank sums per treatment + tie cubes per block (each tie group
    // of size t contributes t^3 - t, counted once per member -> /t)
    val rj = ranked.groupBy(s"${P}t")
      .agg(sum(s"${P}r").as(s"${P}rj"))
      .agg(sum(col(s"${P}rj") * col(s"${P}rj")).as(s"${P}ssbn"),
        count(lit(1)).cast("double").as(s"${P}k"))
    val ties = ranked
      .agg((sum((col(s"${P}tc") * col(s"${P}tc") * col(s"${P}tc") -
        col(s"${P}tc")) / col(s"${P}tc"))).as(s"${P}ties"),
        (count(lit(1)) / first(s"${P}k")).as(s"${P}n"))
    val j = rj.crossJoin(broadcast(ties))
    val kk = col(s"${P}k"); val n = col(s"${P}n")
    val chisq = lit(12.0) / (n * kk * (kk + 1.0)) * col(s"${P}ssbn") -
      lit(3.0) * n * (kk + 1.0)
    val c = lit(1.0) - col(s"${P}ties") / (n * kk * (kk * kk - 1.0))
    val stat = chisq / c
    j.select(n.cast("long").as("n_blocks"), kk.cast("long").as("k"),
      stat.as("statistic"), (kk - 1.0).as("df"),
      PValues.chi2Sf(stat, kk - 1.0).as("pvalue"))
  }

  /** Cochran's Q test for k related binary treatments: cells are
    * max(success) per (block, treatment) (any-success collapse,
    * documented), complete blocks only,
    *   Q = k (k-1) sum_j (G_j - T/k)^2 / (k T - sum_i L_i^2),
    * df = k - 1. Returns {n_blocks, k, statistic, df, pvalue}. */
  def cochranQ(df: DataFrame, success: Column, block: Column,
               treatment: Column): DataFrame = {
    val cells = df.select(block.as(s"${P}b"), treatment.as(s"${P}t"),
        success.cast("int").as(s"${P}x"))
      .groupBy(s"${P}b", s"${P}t")
      .agg(max(s"${P}x").cast("double").as(s"${P}v"))
    val k = cells.agg(countDistinct(col(s"${P}t")).cast("double")
      .as(s"${P}k"))
    val full = cells
      .withColumn(s"${P}bc",
        count(lit(1)).over(Window.partitionBy(s"${P}b")))
      .crossJoin(broadcast(k))
      .filter(col(s"${P}bc") === col(s"${P}k"))
    val gj = full.groupBy(s"${P}t").agg(sum(s"${P}v").as(s"${P}g"))
      .agg(sum(col(s"${P}g") * col(s"${P}g")).as(s"${P}g2"),
        sum(s"${P}g").as(s"${P}tt"),
        count(lit(1)).cast("double").as(s"${P}k"))
    val li = full.groupBy(s"${P}b").agg(sum(s"${P}v").as(s"${P}l"))
      .agg(sum(col(s"${P}l") * col(s"${P}l")).as(s"${P}l2"),
        count(lit(1)).cast("double").as(s"${P}n"))
    val j = gj.crossJoin(broadcast(li))
    val kk = col(s"${P}k"); val tt = col(s"${P}tt")
    val q = kk * (kk - 1.0) * (col(s"${P}g2") - tt * tt / kk) /
      (kk * tt - col(s"${P}l2"))
    j.select(col(s"${P}n").cast("long").as("n_blocks"),
      kk.cast("long").as("k"), q.as("statistic"), (kk - 1.0).as("df"),
      PValues.chi2Sf(q, kk - 1.0).as("pvalue"))
  }

  /** Bartlett's test for equality of variances across the levels of
    * `factor`, per group:
    *   X^2 = [(N-k) ln(s_p^2) - sum (n_j-1) ln(s_j^2)] / C,
    *   C = 1 + (sum 1/(n_j-1) - 1/(N-k)) / (3(k-1)),
    * s_p^2 the pooled sample variance; chi2(k-1) p. One level-stats
    * aggregate + one closing aggregate (k rows). The parametric,
    * higher-power (normality-assuming) companion to the repo's
    * Levene/Brown-Forsythe. Returns {groups..., n, k, statistic, df,
    * pvalue}. */
  def bartlett(df: DataFrame, x: Column, factor: Column,
               groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ factor.as(s"${P}f")
      :+ x.cast("double").as(s"${P}x"): _*)
    val lv = base.groupBy(gc :+ col(s"${P}f"): _*)
      .agg(var_samp(col(s"${P}x")).as(s"${P}v"),
        count(lit(1)).cast("double").as(s"${P}nf"))
    val agged = lv.groupBy(gc: _*)
      .agg(sum(s"${P}nf").as(s"${P}n"),
        count(lit(1)).cast("double").as(s"${P}k"),
        sum((col(s"${P}nf") - 1.0) * col(s"${P}v")).as(s"${P}ssw"),
        sum((col(s"${P}nf") - 1.0) * log(col(s"${P}v"))).as(s"${P}sl"),
        sum(lit(1.0) / (col(s"${P}nf") - 1.0)).as(s"${P}si"))
    val n = col(s"${P}n"); val k = col(s"${P}k")
    val sp2 = col(s"${P}ssw") / (n - k)
    val c = lit(1.0) +
      (col(s"${P}si") - lit(1.0) / (n - k)) / ((k - 1.0) * 3.0)
    val stat = ((n - k) * log(sp2) - col(s"${P}sl")) / c
    agged.select(gc ++ Seq(n.cast("long").as("n"),
      k.cast("long").as("k"), stat.as("statistic"),
      (k - 1.0).as("df"),
      PValues.chi2Sf(stat, k - 1.0).as("pvalue")): _*)
  }

  /** One-way intraclass correlation ICC(1,1) from the ANOVA mean
    * squares over the targets defined by `target` (raters/replicates
    * are the rows within each target):
    *   ICC = (MSB - MSW) / (MSB + (k0 - 1) MSW),
    * k0 the average-group-size correction
    * N_eff = (N - sum n_j^2 / N) / (k - 1) for unbalanced designs
    * (Shrout & Fleiss 1979). One level aggregate + one closing
    * aggregate. Returns {groups..., n, k_targets, msb, msw, icc1}. */
  def icc1(df: DataFrame, x: Column, target: Column,
           groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ target.as(s"${P}t")
      :+ x.cast("double").as(s"${P}x"): _*)
    val lv = base.groupBy(gc :+ col(s"${P}t"): _*)
      .agg(sum(s"${P}x").as(s"${P}sx"),
        sum(col(s"${P}x") * col(s"${P}x")).as(s"${P}sxx"),
        count(lit(1)).cast("double").as(s"${P}nf"))
    val agged = lv.groupBy(gc: _*)
      .agg(sum(s"${P}nf").as(s"${P}n"),
        count(lit(1)).cast("double").as(s"${P}k"),
        sum(s"${P}sx").as(s"${P}gs"),
        sum(s"${P}sxx").as(s"${P}gss"),
        sum(col(s"${P}sx") * col(s"${P}sx") / col(s"${P}nf"))
          .as(s"${P}sb"),
        sum(col(s"${P}nf") * col(s"${P}nf")).as(s"${P}sn2"))
    val n = col(s"${P}n"); val k = col(s"${P}k")
    val ssb = col(s"${P}sb") - col(s"${P}gs") * col(s"${P}gs") / n
    val ssw = col(s"${P}gss") - col(s"${P}sb")
    val msb = ssb / (k - 1.0)
    val msw = ssw / (n - k)
    val k0 = (n - col(s"${P}sn2") / n) / (k - 1.0)
    val icc = (msb - msw) / (msb + (k0 - 1.0) * msw)
    agged.select(gc ++ Seq(n.cast("long").as("n"),
      k.cast("long").as("k_targets"), msb.as("msb"), msw.as("msw"),
      icc.as("icc1")): _*)
  }

  /** Grubbs' outlier test per group: G = max |x - mean| / sd (sample
    * sd) with the flagged value, and the p-value through the exact
    * G -> t mapping t^2 = n(n-2)G^2 / ((n-1)^2 - nG^2),
    * p = min(1, n * P(T_{n-2} > t)) (the standard union bound). The
    * statistic and argmax value replay in SQL; the t-based p is
    * spec-gated per the family convention. Two aggregates + a
    * lexicographic struct-max. Returns
    * {groups..., n, g_stat, outlier_value, pvalue}. */
  def grubbs(df: DataFrame, x: Column,
             groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val base = df.select(gc :+ x.cast("double").as(s"${P}x"): _*)
    // ONE-PASS shape (r17): max|x−μ| is attained at the group max or
    // min, so G and the flagged value derive from a single aggregate
    // (mean, sd, n, max, min) — the former mean-pass + join-back +
    // argmax-pass scanned the input twice. Bit-faithful to the per-row
    // formulation: |max−μ| = (max−μ) and |min−μ| = −fl(min−μ) =
    // fl(μ−min) in IEEE; division by sd is monotone; the z-tie picks
    // the larger value (the struct-max rule) via the >= branch.
    val m = base.groupBy(gc: _*)
      .agg(avg(s"${P}x").as(s"${P}mu"),
        stddev_samp(col(s"${P}x")).as(s"${P}sd"),
        count(lit(1)).cast("double").as(s"${P}n"),
        max(s"${P}x").as(s"${P}mx"),
        min(s"${P}x").as(s"${P}mn"))
    val zHi = abs(col(s"${P}mx") - col(s"${P}mu")) / col(s"${P}sd")
    val zLo = abs(col(s"${P}mn") - col(s"${P}mu")) / col(s"${P}sd")
    val best = m.select((gc ++ Seq(
      struct(greatest(zHi, zLo).as("g"),
        when(zHi >= zLo, col(s"${P}mx")).otherwise(col(s"${P}mn"))
          .as("v")).as(s"${P}best"),
      col(s"${P}n").as(s"${P}n"))): _*)
    val g = col(s"${P}best").getField("g")
    val n = col(s"${P}n")
    // two-sided p via the exact G -> t mapping:
    // t^2 = n (n-2) G^2 / ((n-1)^2 - n G^2), p = n * P(T_{n-2} > t)
    val t2 = n * (n - 2.0) * g * g /
      ((n - 1.0) * (n - 1.0) - n * g * g)
    val p = least(lit(1.0),
      PValues.tSf(sqrt(greatest(t2, lit(0.0))), n - 2.0) / 2.0 * n)
    best.select(gc ++ Seq(n.cast("long").as("n"), g.as("g_stat"),
      col(s"${P}best").getField("v").as("outlier_value"),
      p.as("pvalue")): _*)
  }

  /** Dunn's post-hoc z statistics after Kruskal-Wallis, for every
    * level pair of `factor`: pooled tie-averaged ranks (distinct-value
    * compression + GlobalCumsum — no zero-key window), mean rank per
    * level, tie-corrected variance
    *   sigma2_ij = (N(N+1)/12 - sum(t^3 - t)/(12(N-1))) (1/n_i + 1/n_j),
    *   z_ij = (Rbar_i - Rbar_j) / sqrt(sigma2_ij)
    * (unadjusted two-sided normal p — feed into padjust for BH).
    * Returns {level_a, level_b, mean_rank_a, mean_rank_b, z, pvalue}. */
  def dunn(df: DataFrame, x: Column, factor: Column): DataFrame = {
    // r17: the 26-job AQE storm this op used to plan came from its
    // consumers re-executing the rank pipeline per branch; the fix
    // landed INSIDE GlobalCumsum (eager pin of the range-partitioned
    // frame + no second exchange), after a measured attempt to
    // checkpoint byVF/ranked/perLevel here regressed the warm path
    // 2× (three materialization barriers cost more than the tiny
    // recomputes they saved). The remaining branch recomputes are
    // aggregate-sized and cheap at every scale.
    val t = df.select(factor.as(s"${P}f"),
      x.cast("double").as(s"${P}x"))
    val byVF = t.groupBy(s"${P}x", s"${P}f")
      .agg(count(lit(1)).as(s"${P}cf"))
    val byV = byVF.groupBy(s"${P}x")
      .agg(sum(s"${P}cf").as(s"${P}cnt"))
    val ranked = graft.util.GlobalCumsum.midRanks(byV, Nil, col(s"${P}x"),
      col(s"${P}cnt"), s"${P}r")
    val ties = ranked.agg(
      sum(col(s"${P}cnt") * col(s"${P}cnt") * col(s"${P}cnt") -
        col(s"${P}cnt")).cast("double").as(s"${P}ties"),
      sum(s"${P}cnt").cast("double").as(s"${P}nn"))
    val perLevel = byVF
      .join(ranked.select(col(s"${P}x"), col(s"${P}r")), Seq(s"${P}x"))
      .groupBy(s"${P}f")
      .agg((sum(col(s"${P}cf") * col(s"${P}r")) / sum(s"${P}cf"))
        .as(s"${P}rb"),
        sum(s"${P}cf").cast("double").as(s"${P}nf"))
    val a = perLevel.select(col(s"${P}f").as("level_a"),
      col(s"${P}rb").as(s"${P}ra"), col(s"${P}nf").as(s"${P}na"))
    val b = perLevel.select(col(s"${P}f").as("level_b"),
      col(s"${P}rb").as(s"${P}rbv"), col(s"${P}nf").as(s"${P}nb"))
    val pairs = a.join(b, col("level_a") < col("level_b"))
      .crossJoin(broadcast(ties))
    val n = col(s"${P}nn")
    val sig2 = (n * (n + 1.0) / 12.0 -
      col(s"${P}ties") / ((n - 1.0) * 12.0)) *
      (lit(1.0) / col(s"${P}na") + lit(1.0) / col(s"${P}nb"))
    val z = (col(s"${P}ra") - col(s"${P}rbv")) / sqrt(sig2)
    pairs.select(col("level_a"), col("level_b"),
      col(s"${P}ra").as("mean_rank_a"), col(s"${P}rbv").as("mean_rank_b"),
      z.as("z"), PValues.normSf2(z).as("pvalue"))
  }
}
