package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues

/** Cox proportional-hazards regression (single covariate, Breslow tie
  * handling) — the effect-size companion to the repo's survival
  * estimators ([[TSOps.kaplanMeier]] / nelsonAalen / logRank): "HOW
  * MUCH does x shift the hazard", not just "do the curves differ".
  *
  * For one covariate the Newton step needs only the risk-set sums
  *   S_k(t) = sum over subjects with t_j >= t of x_j^k exp(beta x_j),
  * which are REVERSE cumulative sums over event time — one descending
  * range-frame window pass per iteration (ties share the frame, which
  * is exactly Breslow's approximation):
  *   U(b) = sum over events (x_i - S1/S0),
  *   I(b) = sum over events (S2/S0 - (S1/S0)^2),   b' = b + U/I.
  * The iteration count is a FIXED caller-visible contract from b = 0
  * (Newton on the partial likelihood is quadratic — 3-4 steps reach
  * float precision on non-degenerate data), so the whole fit replays
  * in SQL CTE-by-CTE.
  *
  * NO converged-group early-exit here (r15 verdict ask #8, decided
  * against): the r14 IRLS mask (LinRegOps) freezes groups whose beta
  * stopped moving within tolerance — harmless there because grouped
  * GLM runs tens of data-dependent iterations and the oracle pins
  * aggregate equality, not per-step replay. Cox's contract is the
  * opposite: exactly `maxIter` Newton steps, each replayed CTE-by-CTE
  * bit-for-bit by the DuckDB oracle — freezing a near-converged group
  * one step early changes low-order bits and breaks the replay. The
  * performance case is also absent: each step is ONE window pass over
  * all rows (masking a group means filtering the base frame per
  * iteration — an extra scan, not a saving), maxIter is 3, and the
  * benched grouped fit runs in ~0.6 s (BENCH_DETAIL q_cox_ph). Below `graft.maxLocalIrls` projected doubles the
  * identical loop runs on the collected narrow projection (the
  * irlsEngine lesson: bench-sized fits are plan-overhead-bound).
  * Returns {groups..., n, n_events, beta, se, hazard_ratio, pvalue}
  * with se = 1/sqrt(I(beta_final)) and a two-sided normal p (excluded
  * from oracle projections per the family convention). */
object SurvOps {

  private val P = "__surv_"

  def coxPh(df: DataFrame, time: Column, event: Column, x: Column,
            groupNames: Seq[String], maxIter: Int = 3): DataFrame = {
    require(maxIter >= 1 && maxIter <= 16,
      s"coxPh: maxIter must be in [1,16], got $maxIter")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ time.cast("double").as(s"${P}t")
      :+ event.cast("int").as(s"${P}e")
      :+ x.cast("double").as(s"${P}x"): _*)
      // persist-ok: unpersisted on both paths below
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mRows = base.count()
    if (LinRegOps.fitsLocalIrls(mRows, 3)) {
      val out = localCox(base, groupNames, maxIter)
      base.unpersist(blocking = false)
      return out
    }
    val res = graft.util.Release.scoped(df.sparkSession) {
      // one Newton step: given the per-group beta frame, return the
      // per-group {beta', I} frame (k rows)
      def step(beta: DataFrame): DataFrame = {
        val joined = base.join(beta, groupNames)
        val exb = exp(col(s"${P}b") * col(s"${P}x"))
        val w = Window.partitionBy(gc: _*).orderBy(col(s"${P}t").desc)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val withS = joined
          .withColumn(s"${P}s0", sum(exb).over(w))
          .withColumn(s"${P}s1", sum(col(s"${P}x") * exb).over(w))
          .withColumn(s"${P}s2",
            sum(col(s"${P}x") * col(s"${P}x") * exb).over(w))
        val r1 = col(s"${P}s1") / col(s"${P}s0")
        val isEv = col(s"${P}e") === 1
        withS.groupBy(gc: _*)
          .agg(sum(when(isEv, col(s"${P}x") - r1)).as(s"${P}u"),
            sum(when(isEv,
              col(s"${P}s2") / col(s"${P}s0") - r1 * r1)).as(s"${P}i"),
            first(s"${P}b").as(s"${P}b0"),
            count(lit(1)).as("n"),
            sum(s"${P}e").cast("long").as("n_events"))
          .withColumn(s"${P}b",
            col(s"${P}b0") + col(s"${P}u") / col(s"${P}i"))
          .drop(s"${P}u") // keep b0: the final half-step reports it
      }
      var beta = base.groupBy(gc: _*)
        .agg(lit(0.0).as(s"${P}b")).localCheckpoint(true)
      var last: DataFrame = null
      for (_ <- 1 to maxIter) {
        last = step(beta).localCheckpoint(true)
        beta = last.select((gc :+ col(s"${P}b")): _*)
      }
      // se comes from the information AT the final beta: one more
      // half-step evaluates I(beta_final) without moving beta
      val fin = step(beta)
      fin.select(gc ++ Seq(col("n"), col("n_events"),
        col(s"${P}b0").as("beta"),
        (lit(1.0) / sqrt(col(s"${P}i"))).as("se"),
        exp(col(s"${P}b0")).as("hazard_ratio"),
        PValues.normSf2(col(s"${P}b0") * sqrt(col(s"${P}i")))
          .as("pvalue")): _*)
    }
    base.unpersist(blocking = false)
    res
  }

  /** Driver-side twin of the distributed Newton loop: identical
    * fixed-iteration contract over the collected narrow projection. */
  private def localCox(base: DataFrame, groupNames: Seq[String],
                       maxIter: Int): DataFrame = {
    val spark = base.sparkSession
    val nG = groupNames.size
    val collected = base.collect()
    val byGroup = collected.groupBy(r => (0 until nG).map(r.get).toSeq)
    val outRows = byGroup.map { case (key, rows) =>
      val sorted = rows.sortBy(-_.getDouble(nG)) // time desc
      val n = sorted.length
      val ts = sorted.map(_.getDouble(nG))
      val es = sorted.map(_.getInt(nG + 1))
      val xs = sorted.map(_.getDouble(nG + 2))
      val nEvents = es.count(_ == 1).toLong
      var b = 0.0
      var info = 0.0
      def pass(beta: Double): (Double, Double) = {
        // reverse cumulative risk sums; tied times share the risk set
        var u = 0.0; var inf = 0.0
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var i = 0
        while (i < n) {
          var j = i
          while (j < n && ts(j) == ts(i)) { // absorb the tie block
            val e = math.exp(beta * xs(j))
            s0 += e; s1 += xs(j) * e; s2 += xs(j) * xs(j) * e
            j += 1
          }
          var k = i
          while (k < j) {
            if (es(k) == 1) {
              val r1 = s1 / s0
              u += xs(k) - r1
              inf += s2 / s0 - r1 * r1
            }
            k += 1
          }
          i = j
        }
        (u, inf)
      }
      for (_ <- 1 to maxIter) {
        val (u, inf) = pass(b)
        b += u / inf
      }
      info = pass(b)._2
      org.apache.spark.sql.Row.fromSeq(key ++ Seq[Any](n.toLong,
        nEvents, b, 1.0 / math.sqrt(info), math.exp(b),
        2.0 * (1.0 - new org.apache.commons.math3.distribution
          .NormalDistribution(null, 0.0, 1.0)
          .cumulativeProbability(math.abs(b) * math.sqrt(info)))))
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      base.schema.fields.take(nG) ++ Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("beta",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("se",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("hazard_ratio",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("pvalue",
          org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1), schema)
  }
}
