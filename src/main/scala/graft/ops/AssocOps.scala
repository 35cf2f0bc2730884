package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues

/** Association-structure tests: the Chow structural-break F (does the
  * y~x relationship CHANGE across a known split — the regression
  * companion to the ChangeOps location detectors), first-order partial
  * correlation (is the x-y association real or routed through z), and
  * binned mutual information (nonlinear association a correlation
  * can't see). All closed-form over one or two map-side-combinable
  * aggregates; the MI contingency table is bins^2 rows per group,
  * never row-scale.
  */
object AssocOps {

  private val P = "__assoc_"

  /** Chow test for a structural break of the simple regression y ~ x
    * at a KNOWN split (`inFirst` vs rest), per group:
    *   F = [(SSE_p - SSE_1 - SSE_2) / 2] / [(SSE_1 + SSE_2) / (n - 4)]
    * with each SSE in the closed form Syy - Sxy^2/Sxx over centered
    * moments — the pooled and both segment fits all come from ONE
    * aggregate pass of conditional sums. Returns
    * {groups..., n1, n2, f_stat, df1, df2, pvalue}. */
  def chowTest(df: DataFrame, y: Column, x: Column, inFirst: Column,
               groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ y.cast("double").as(s"${P}y")
      :+ x.cast("double").as(s"${P}x")
      :+ inFirst.cast("boolean").as(s"${P}s"): _*)
    def sums(pred: Column, tag: String) = Seq(
      sum(when(pred, lit(1.0))).as(s"${P}n$tag"),
      sum(when(pred, col(s"${P}x"))).as(s"${P}sx$tag"),
      sum(when(pred, col(s"${P}y"))).as(s"${P}sy$tag"),
      sum(when(pred, col(s"${P}x") * col(s"${P}x"))).as(s"${P}sxx$tag"),
      sum(when(pred, col(s"${P}x") * col(s"${P}y"))).as(s"${P}sxy$tag"),
      sum(when(pred, col(s"${P}y") * col(s"${P}y"))).as(s"${P}syy$tag"))
    val aggCols = sums(col(s"${P}s"), "1") ++
      sums(!col(s"${P}s"), "2") ++ sums(lit(true), "p")
    val agged = t.groupBy(gc: _*).agg(aggCols.head, aggCols.tail: _*)
    def sse(tag: String): Column = {
      val n = col(s"${P}n$tag")
      val cxx = col(s"${P}sxx$tag") -
        col(s"${P}sx$tag") * col(s"${P}sx$tag") / n
      val cxy = col(s"${P}sxy$tag") -
        col(s"${P}sx$tag") * col(s"${P}sy$tag") / n
      val cyy = col(s"${P}syy$tag") -
        col(s"${P}sy$tag") * col(s"${P}sy$tag") / n
      cyy - cxy * cxy / cxx
    }
    val n = col(s"${P}np")
    val num = (sse("p") - sse("1") - sse("2")) / 2.0
    val den = (sse("1") + sse("2")) / (n - 4.0)
    val f = num / den
    agged.select(gc ++ Seq(col(s"${P}n1").cast("long").as("n1"),
      col(s"${P}n2").cast("long").as("n2"), f.as("f_stat"),
      lit(2.0).as("df1"), (n - 4.0).as("df2"),
      PValues.fSf(f, lit(2.0), n - 4.0).as("pvalue")): _*)
  }

  /** First-order partial correlation of x and y controlling for z,
    * per group: r_xy.z = (r_xy - r_xz r_yz) /
    * sqrt((1 - r_xz^2)(1 - r_yz^2)), with the t statistic on n-3 df.
    * One aggregate. Returns {groups..., n, r_xy, r_xy_z, t, pvalue}. */
  def partialCorr(df: DataFrame, x: Column, y: Column, z: Column,
                  groupNames: Seq[String]): DataFrame = {
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ y.cast("double").as(s"${P}y")
      :+ z.cast("double").as(s"${P}z"): _*)
    val agged = t.groupBy(gc: _*)
      .agg(corr(col(s"${P}x"), col(s"${P}y")).as(s"${P}rxy"),
        corr(col(s"${P}x"), col(s"${P}z")).as(s"${P}rxz"),
        corr(col(s"${P}y"), col(s"${P}z")).as(s"${P}ryz"),
        count(lit(1)).cast("double").as(s"${P}n"))
    val rp = (col(s"${P}rxy") - col(s"${P}rxz") * col(s"${P}ryz")) /
      sqrt((lit(1.0) - col(s"${P}rxz") * col(s"${P}rxz")) *
        (lit(1.0) - col(s"${P}ryz") * col(s"${P}ryz")))
    val n = col(s"${P}n")
    val tStat = rp * sqrt((n - 3.0) / (lit(1.0) - rp * rp))
    agged.select(gc ++ Seq(n.cast("long").as("n"),
      col(s"${P}rxy").as("r_xy"), rp.as("r_xy_z"), tStat.as("t"),
      PValues.tSf(tStat, n - 3.0).as("pvalue")): _*)
  }

  /** Binned mutual information between x and y per group, on
    * equal-width marginal binnings of each variable's [min, max]
    * (max clamped into the last cell):
    *   mi  = sum over joint cells p ln(p / (p_x p_y))   (nats),
    *   nmi = mi / sqrt(H(x) H(y))                       (in [0, 1]).
    * Two aggregates (ranges, then joint counts); the contingency
    * table is at most bins^2 rows per group. Returns
    * {groups..., bins, mi, nmi}. */
  def miBinned(df: DataFrame, x: Column, y: Column,
               groupNames: Seq[String], bins: Int): DataFrame = {
    require(bins >= 2, s"miBinned: bins must be >= 2, got $bins")
    val gc = groupNames.map(col)
    val t = df.select(gc :+ x.cast("double").as(s"${P}x")
      :+ y.cast("double").as(s"${P}y"): _*)
    val range = t.groupBy(gc: _*)
      .agg(min(s"${P}x").as(s"${P}xlo"), max(s"${P}x").as(s"${P}xhi"),
        min(s"${P}y").as(s"${P}ylo"), max(s"${P}y").as(s"${P}yhi"))
    val joined = t.join(range, groupNames)
    def bin(c: Column, lo: Column, hi: Column): Column =
      when(hi <= lo, lit(0)).otherwise(least(
        floor((c - lo) / (hi - lo) * bins), lit(bins - 1)).cast("int"))
    val cells = joined
      .withColumn(s"${P}bx",
        bin(col(s"${P}x"), col(s"${P}xlo"), col(s"${P}xhi")))
      .withColumn(s"${P}by",
        bin(col(s"${P}y"), col(s"${P}ylo"), col(s"${P}yhi")))
      .groupBy(gc :+ col(s"${P}bx") :+ col(s"${P}by"): _*)
      .agg(count(lit(1)).cast("double").as(s"${P}c"))
    val wTot = Window.partitionBy(gc: _*)
    val wX = Window.partitionBy(gc :+ col(s"${P}bx"): _*)
    val wY = Window.partitionBy(gc :+ col(s"${P}by"): _*)
    val probs = cells
      .withColumn(s"${P}p", col(s"${P}c") / sum(s"${P}c").over(wTot))
      .withColumn(s"${P}px",
        sum(s"${P}c").over(wX) / sum(s"${P}c").over(wTot))
      .withColumn(s"${P}py",
        sum(s"${P}c").over(wY) / sum(s"${P}c").over(wTot))
    val p = col(s"${P}p")
    val mi = sum(p * log(p / (col(s"${P}px") * col(s"${P}py"))))
    // marginal entropies from the joint cells: each joint cell carries
    // p ln(px) of its x-marginal's entropy mass (and same for y)
    val hx = -sum(p * log(col(s"${P}px")))
    val hy = -sum(p * log(col(s"${P}py")))
    probs.groupBy(gc: _*)
      .agg(mi.as(s"${P}mi"), hx.as(s"${P}hx"), hy.as(s"${P}hy"))
      .select(gc ++ Seq(lit(bins).as("bins"), col(s"${P}mi").as("mi"),
        (col(s"${P}mi") / sqrt(col(s"${P}hx") * col(s"${P}hy")))
          .as("nmi")): _*)
  }
}
