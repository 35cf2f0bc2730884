package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.GlobalCumsum

/** Offline changepoint detection over keyed series — the batch
  * complement to the streaming CUSUM detector
  * (streaming/StreamOps.scala): where did a metric's distribution
  * shift inside a corpus snapshot? Three detectors, all algebraic:
  * Pettitt's rank test (nonparametric single changepoint with an
  * asymptotic p-value), the best mean-shift split by between-segment
  * SSE gain (the single-split core of binary segmentation), and the
  * Page-Hinkley drift statistic (the offline replay of the online
  * detector). Plans are one or two keyed window passes plus one
  * aggregate — no per-group buffering, no quadratic pair sums: the
  * Pettitt U_t statistic uses the identity
  *   U_t = sum_{i<=t} (2 r_i - n - 1)
  * (tie-averaged pooled ranks r_i), which turns the textbook
  * sum-of-sign-pairs definition into two cumulative sums.
  */
object ChangeOps {

  private val P = "__chg_"

  /** Tie-averaged rank of x within each group, attached to every row,
    * via distinct-value compression (the kruskalWallis pattern): ranks
    * come from counts below + half the tie block, never a row sort. */
  private def withValueRank(t: DataFrame, gc: Seq[Column],
                            groupNames: Seq[String]): DataFrame = {
    val byV = t.groupBy(gc :+ col(s"${P}x"): _*)
      .agg(count(lit(1)).as(s"${P}cnt"))
    val withRank = GlobalCumsum.midRanks(byV, gc, col(s"${P}x"),
        col(s"${P}cnt"), s"${P}rank")
      .select((gc :+ col(s"${P}x") :+ col(s"${P}rank")): _*)
    t.join(withRank, groupNames :+ s"${P}x")
  }

  /** Pettitt's nonparametric changepoint test per group, over the
    * series ordered by `ord`:
    *   U_t = sum_{i<=t} sum_{j>t} sign(x_i - x_j)
    *       = sum_{i<=t} (2 r_i - n - 1)   (tie-averaged ranks r_i),
    *   K = max_{1<=t<n} |U_t|, changepoint = the x-position of the
    * FIRST t attaining K (the last index of the left segment), and the
    * asymptotic p ~= 2 exp(-6 K^2 / (n^3 + n^2)), clamped to [0, 1].
    * Returns {groups..., n, k_stat, change_ord, pvalue}. Plan: rank
    * join (distinct-value compressed) + one time-ordered running sum
    * ([[GlobalCumsum.runningSumsBy]]) + one aggregate with a
    * lexicographic max_by. */
  def pettitt(df: DataFrame, x: Column, ord: Column,
              groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    // U_t = 2 * (rank sum of rows 1..t) - t (n + 1): integers, exact
    val cum = GlobalCumsum.runningSumsBy(withValueRank(t, gc, groupNames),
        gc, col(s"${P}o"), ascending = true,
        Seq(col(s"${P}rank") -> s"${P}rs", lit(1L) -> s"${P}rn"),
        Seq(lit(1.0) -> s"${P}n"))
      .withColumn(s"${P}u", col(s"${P}rs") * 2.0 -
        col(s"${P}rn") * (col(s"${P}n") + 1.0))
      .filter(col(s"${P}rn") < col(s"${P}n")) // t = 1 .. n-1
    // lexicographic max: largest |U|, then smallest t (first hit)
    val best = cum.groupBy(gc: _*)
      .agg(max(struct(abs(col(s"${P}u")).as("k"),
        (-col(s"${P}rn")).as("nt"), col(s"${P}o").as("o")))
        .as(s"${P}best"),
        first(s"${P}n").as(s"${P}nn"))
    val k = col(s"${P}best").getField("k")
    val n = col(s"${P}nn")
    val p = least(lit(1.0),
      exp(lit(-6.0) * k * k / (n * n * n + n * n)) * 2.0)
    best.select(gc ++ Seq(n.cast("long").as("n"), k.as("k_stat"),
      col(s"${P}best").getField("o").as("change_ord"),
      p.as("pvalue")): _*)
  }

  /** Best single mean-shift split per group: the t (1 <= t < n, in
    * `ord` order) maximizing the between-segment SSE gain
    *   gain_t = t (n-t) / n * (mean_left - mean_right)^2,
    * i.e. the first step of binary segmentation with an L2 cost.
    * Returns {groups..., n, change_ord (last left-segment position),
    * gain, mean_left, mean_right}; ties on gain break to the smallest
    * t. One time-ordered cumsum window + one aggregate. */
  def meanShiftSplit(df: DataFrame, x: Column, ord: Column,
                     groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val wOrd = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val wAll = Window.partitionBy(gc: _*)
    val cum = t
      .withColumn(s"${P}n", count(lit(1)).over(wAll).cast("double"))
      .withColumn(s"${P}s", sum(s"${P}x").over(wAll))
      .withColumn(s"${P}rn", row_number().over(wOrd).cast("double"))
      .withColumn(s"${P}sl",
        sum(s"${P}x").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col(s"${P}rn") < col(s"${P}n"))
    val tt = col(s"${P}rn"); val n = col(s"${P}n")
    val ml = col(s"${P}sl") / tt
    val mr = (col(s"${P}s") - col(s"${P}sl")) / (n - tt)
    val gain = tt * (n - tt) / n * (ml - mr) * (ml - mr)
    val best = cum.groupBy(gc: _*)
      .agg(max(struct(gain.as("g"), (-tt).as("nt"), col(s"${P}o").as("o"),
        ml.as("ml"), mr.as("mr"))).as(s"${P}best"),
        first(s"${P}n").as(s"${P}nn"))
    best.select(gc ++ Seq(col(s"${P}nn").cast("long").as("n"),
      col(s"${P}best").getField("o").as("change_ord"),
      col(s"${P}best").getField("g").as("gain"),
      col(s"${P}best").getField("ml").as("mean_left"),
      col(s"${P}best").getField("mr").as("mean_right")): _*)
  }

  /** Page-Hinkley drift statistic per group (offline replay of the
    * online detector, increase direction):
    *   m_t  = sum_{i<=t} (x_i - xbar_i - delta)   (xbar_i = running mean),
    *   PH_t = m_t - min_{s<=t} m_s,
    * alarm at the first t with PH_t > lambda. Returns {groups..., n,
    * ph_max, alarm_ord (null when never alarmed), alarmed}. Two
    * time-ordered window passes (cumsum, then running min) + one
    * aggregate. */
  def pageHinkley(df: DataFrame, x: Column, ord: Column,
                  groupNames: Seq[String], delta: Double,
                  lambda: Double): DataFrame = {
    require(lambda > 0.0, s"pageHinkley: lambda must be > 0, got $lambda")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ ord.as(s"${P}o"): _*)
    val wOrd = Window.partitionBy(gc: _*).orderBy(col(s"${P}o"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val cum = t
      .withColumn(s"${P}rn", row_number().over(wOrd).cast("double"))
      .withColumn(s"${P}cs", sum(s"${P}x").over(wCum))
      // x_i - xbar_i - delta summed: m_t = cs_t - sum_i (cs_i / i) - t*delta
      .withColumn(s"${P}m",
        col(s"${P}cs") -
          sum(col(s"${P}cs") / col(s"${P}rn")).over(wCum) -
          col(s"${P}rn") * delta)
      .withColumn(s"${P}ph",
        col(s"${P}m") - min(s"${P}m").over(wCum))
    val agged = cum.groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), max(s"${P}ph").as("ph_max"),
        min(when(col(s"${P}ph") > lambda, col(s"${P}o"))).as("alarm_ord"))
    agged.select(gc ++ Seq(col("n"), col("ph_max"),
      col("alarm_ord"), col("alarm_ord").isNotNull.as("alarmed")): _*)
  }
}
