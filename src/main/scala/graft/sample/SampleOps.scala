package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling & splitting (SURVEY §2.12; reference
  * python/polars_ds/sample_and_split/sample_and_split.py).
  *
  * Randomness is Spark's `rand(seed)` — deterministic per
  * (seed, partition layout). Cross-engine bitwise equality with the
  * reference's rand streams is impossible (SURVEY §7 hard parts), so
  * correctness checks are structural: exact counts, ratios, and
  * per-group invariants, all of which ARE deterministic.
  */
object SampleOps {

  /** Sample an exact number of rows (sample_and_split.py:15 `sample`
    * with n). Global sort on the random key — for cluster scale prefer
    * fraction-based sampling (below) which is shuffle-free. */
  def sampleN(df: DataFrame, n: Int, seed: Long = 42): DataFrame =
    df.orderBy(rand(seed)).limit(n)

  /** Bernoulli fraction sample — shuffle-free, scales linearly. */
  def sampleFraction(df: DataFrame, fraction: Double,
                     withReplacement: Boolean = false,
                     seed: Long = 42): DataFrame =
    df.sample(withReplacement, fraction, seed)

  /** Exact-n sampling WITH replacement (sample_and_split.py:15 with
    * `replace=True`): draw n uniform row indices and join them against
    * the zipWithIndex'd frame — fully distributed (one hash join on
    * the index), never a driver-side collect, and rows drawn k times
    * appear k times. */
  def sampleNWithReplacement(df: DataFrame, n: Long, seed: Long = 42)
      : DataFrame = {
    val spark = df.sparkSession
    val total = df.count()
    require(total > 0, "sampleNWithReplacement: empty frame")
    val schema = df.schema.add("_idx",
      org.apache.spark.sql.types.LongType)
    val indexed = spark.createDataFrame(
      df.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema)
    // clamp: rand() can reach 1−2⁻⁵³, and for large `total` the product
    // rounds up to exactly `total` — an index that joins to nothing and
    // silently shorts the exact-n contract by a row
    val picks = spark.range(n)
      .select(least(floor(rand(seed) * total), lit(total - 1))
        .cast("long").as("_idx"))
    indexed.join(picks, "_idx").drop("_idx")
  }

  /** Equalize group sizes down to the smallest group: keep a uniform
    * random subset of each `by` group. `target` is an upper bound, not
    * an override — the reference takes min_horizontal(min group count,
    * target_volume), so a target larger than the smallest group still
    * equalizes to the smallest group (sample_and_split.py:215).
    * With `control` columns, the cap is computed independently INSIDE
    * each control group (target.over(ctrl), sample_and_split.py:224):
    * per-control caps are a tiny aggregate broadcast back — no global
    * sort, one window per (control, by) partition.
    * (sample_and_split.py:140 volume_neutral) */
  def volumeNeutral(df: DataFrame, by: Seq[String],
                    target: Option[Int] = None,
                    seed: Long = 42,
                    control: Seq[String] = Nil): DataFrame = {
    if (control.isEmpty) {
      val minCnt = df.groupBy(by.map(col): _*).count()
        .agg(min("count")).head.getLong(0)
      val cap = target.map(t => math.min(minCnt, t.toLong))
        .getOrElse(minCnt)
      val w = Window.partitionBy(by.map(col): _*).orderBy(rand(seed))
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= cap)
        .drop("_rn")
    } else {
      val caps = df.groupBy((control ++ by).map(col): _*).count()
        .groupBy(control.map(col): _*).agg(min("count").as("_vn_cap"))
      val cap = target.map(t => least(col("_vn_cap"), lit(t.toLong)))
        .getOrElse(col("_vn_cap"))
      val w = Window.partitionBy((control ++ by).map(col): _*)
        .orderBy(rand(seed))
      df.join(broadcast(caps), control)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= cap)
        .drop("_rn", "_vn_cap")
    }
  }

  /** Downsample the given classes by per-class fractions, keep others
    * intact. (sample_and_split.py:238 downsample) */
  def downsample(df: DataFrame, classCol: String,
                 fractions: Map[String, Double],
                 seed: Long = 42): DataFrame = {
    val keep = df.stat.sampleBy(classCol,
      fractions, seed)
    val untouched = df.filter(!col(classCol).isin(fractions.keys.toSeq: _*))
    keep.filter(col(classCol).isin(fractions.keys.toSeq: _*))
      .unionByName(untouched)
  }

  /** The reference's general downsample (sample_and_split.py:238):
    * each (condition, keep) pair filters an arbitrary boolean subset
    * and keeps either an exact row count (Left) or a Bernoulli fraction
    * (Right); rows matching NO condition pass through untouched. A row
    * matching several conditions can appear in several samples — the
    * reference concats overlapping filters the same way. Exact-n uses
    * a per-subset random sort (subsets are the rows being CUT, so the
    * sort is over the small side). */
  def downsampleWhere(df: DataFrame,
                      conditions: Seq[(Column, Either[Int, Double])],
                      seed: Long = 42): DataFrame = {
    require(conditions.nonEmpty, "downsampleWhere: no conditions")
    val sampled = conditions.map { case (cond, keep) =>
      val sub = df.filter(cond)
      keep match {
        case Right(frac) => sub.sample(withReplacement = false, frac, seed)
        case Left(n)     => sub.orderBy(rand(seed)).limit(n)
      }
    }
    val untouched = df.filter(!conditions.map(_._1).reduce(_ || _))
    (sampled :+ untouched).reduce(_ unionByName _)
  }

  /** Train/test/k-way split label, optionally stratified: percent_rank
    * over a seeded random order within each stratum, cut at cumulative
    * ratios. Counts per (stratum, split) are deterministic given group
    * sizes. (sample_and_split.py:416 split_by_ratio) */
  def splitByRatio(df: DataFrame, ratios: Seq[(String, Double)],
                   stratifyBy: Seq[String] = Nil,
                   seed: Long = 42, out: String = "split"): DataFrame = {
    require(math.abs(ratios.map(_._2).sum - 1.0) < 1e-9,
      "ratios must sum to 1")
    // snap cumulative bounds to 12 decimals: 0.7+0.2 must be the user's
    // 0.9, not 0.8999999999999999, or boundary rows land one split off
    val cum = ratios.scanLeft(0.0)(_ + _._2).tail
      .map(x => math.rint(x * 1e12) / 1e12)
    def label(pr: Column): Column = ratios.map(_._1).zip(cum).reverse
      .foldLeft(lit(ratios.last._1)) { case (acc, (name, bound)) =>
        when(pr <= bound, name).otherwise(acc)
      }
    // reversed fold: the tightest bound lands outermost, so the label
    // is the FIRST cum-ratio the row's percent_rank falls under
    if (stratifyBy.nonEmpty) {
      val w = Window.partitionBy(stratifyBy.map(col): _*)
        .orderBy(rand(seed))
      df.withColumn(out, label(percent_rank().over(w)))
    } else {
      // unstratified: an empty-partition window would pull the WHOLE
      // frame through one task. Spark's orderBy is a range-partitioned
      // distributed sort, so sort by the random key and take the global
      // rank from zipWithIndex (one narrow pass) — same percent_rank
      // semantics, no single-partition stage
      val n = df.count()
      val denom = math.max(n - 1, 1L).toDouble
      val schema = df.schema.add("_pr",
        org.apache.spark.sql.types.DoubleType)
      val spark = df.sparkSession
      val indexed = spark.createDataFrame(
        df.orderBy(rand(seed)).rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i / denom) }, schema)
      indexed.withColumn(out, label(col("_pr"))).drop("_pr")
    }
  }

  /** Choose k random column names (driver-side).
    * (sample_and_split.py:352 random_cols) */
  def randomCols(df: DataFrame, k: Int, seed: Long = 42): Seq[String] = {
    val rng = new scala.util.Random(seed)
    rng.shuffle(df.columns.toList).take(k)
  }

  /** Exact, deterministic, uniform without-replacement k-sample: the
    * k rows with the smallest `md5(id ":" seed)` (k-minimum-values).
    * Same sample on any cluster size or run; a different seed gives an
    * independent sample. Plans as TakeOrderedAndProject — each
    * partition keeps its local top-k and the driver merges k·P rows,
    * no full sort shuffle (PlanSpec-pinned). */
  def seededSample(df: DataFrame, id: Column, k: Int,
                   seed: Long): DataFrame = {
    require(k > 0, "seededSample: k must be > 0")
    df.withColumn("__ss_key",
        md5(concat(id.cast("string"), lit(":"), lit(seed.toString))))
      .orderBy(col("__ss_key"))
      .limit(k)
      .drop("__ss_key")
  }

  /** Deterministic per-epoch training-order shuffle: order by
    * `md5(id ":" epoch)` — a different permutation every epoch, and
    * the SAME byte-identical permutation for a given (corpus, epoch)
    * on any cluster size or run (no RNG, no partition-count
    * dependence, unlike `orderBy(rand(seed))` whose output depends on
    * partitioning). A distributed range-sort — no single-partition
    * stage. */
  def epochShuffle(df: DataFrame, id: Column, epoch: Int): DataFrame =
    df.withColumn("__eps_key",
        md5(concat(id.cast("string"), lit(":"), lit(epoch.toString))))
      .orderBy(col("__eps_key"))
      .drop("__eps_key")

  /** Like [[epochShuffle]] but also assigns the 1-based global
    * `position` — via the range-partitioned global cumsum (never a
    * single-partition window), so sequence packing / curriculum
    * schedules get reproducible offsets at any scale. */
  def epochShufflePositions(df: DataFrame, id: Column,
                            epoch: Int): DataFrame = {
    val keyed = df.withColumn("__eps_key",
      md5(concat(id.cast("string"), lit(":"), lit(epoch.toString))))
    graft.util.GlobalCumsum.runningSums(keyed, col("__eps_key"),
        ascending = true, Seq((lit(1L), "__eps_pos")))
      .withColumn("position", col("__eps_pos").cast("long"))
      .drop("__eps_key", "__eps_pos")
  }

  /** Temperature-based domain sampling (the mT5 / multilingual-mixing
    * rule): domain d gets a target share ∝ n_d^alpha — alpha = 1
    * keeps natural proportions, alpha → 0 flattens toward uniform,
    * 0 < alpha < 1 up-weights tail domains. Selects
    * t_d = min(n_d, ⌊targetTotal · w_d / Σw⌋) documents per domain,
    * deterministically: the t_d docs with the smallest
    * md5(id ":" seed) hash within the domain (same selection on any
    * cluster size / run, like [[seededSample]]).
    *
    * `integerWeights = true` floors each w_d = n_d^alpha to a Long
    * BEFORE normalizing. That makes every target count pure integer
    * arithmetic — exactly reproducible across engines and platforms
    * (audit-grade pipelines; the driver oracle replays it in SQL).
    * With raw double weights a 1-ulp libm difference could flip a
    * ⌊·⌋ boundary between engines; within one JVM either mode is
    * deterministic.
    *
    * Scale shape: one tiny per-domain count agg (collected under a
    * loud `maxDomains` cap — domains are a broadcast-sized dimension,
    * not data), then per-domain hash ranks via the range-partition +
    * broadcast-offset scheme (NEVER a whole-domain single-task
    * window: a 100 TB domain flows through P parallel tasks; the only
    * single-task window runs over the ≤ P·|domains| per-partition
    * count rows). */
  def temperatureSample(df: DataFrame, id: Column, domain: Column,
                        alpha: Double, targetTotal: Long,
                        seed: Long = 0L,
                        integerWeights: Boolean = true,
                        maxDomains: Int = 100000): DataFrame =
      graft.util.Release.scoped(df.sparkSession) {
    require(alpha >= 0.0, "temperatureSample: alpha must be >= 0")
    require(targetTotal > 0, "temperatureSample: targetTotal must be > 0")
    val spark = df.sparkSession
    val counts = df.groupBy(domain.as("__td_dom"))
      .agg(count(lit(1)).as("__td_n"))
      .limit(maxDomains + 1).collect()
    require(counts.length <= maxDomains,
      s"temperatureSample: more than $maxDomains domains; the per-" +
        "domain target table is computed on the driver. Coarsen the " +
        "domain key or raise maxDomains.")
    // per-domain targets — integer weights by default (see scaladoc)
    val weights = counts.map { r =>
      val n = r.getLong(1)
      val w = math.pow(n.toDouble, alpha)
      (r.get(0), n, if (integerWeights) math.floor(w) else w)
    }
    val wSum = weights.map(_._3).sum
    val targets = weights.map { case (d, n, w) =>
      val t =
        if (integerWeights)
          math.min(n, (targetTotal * w.toLong) / math.max(1L, wSum.toLong))
        else math.min(n, math.floor(targetTotal * w / wSum).toLong)
      (d, t)
    }
    val tDf = spark.createDataFrame(
        spark.sparkContext.parallelize(targets.toSeq.map(x =>
          org.apache.spark.sql.Row(x._1, x._2)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__td_dom",
            df.select(domain).schema.head.dataType),
          org.apache.spark.sql.types.StructField("__td_t",
            org.apache.spark.sql.types.LongType))))
    // distributed per-domain hash rank: range-partition on
    // (domain, hash) → per-(pid, domain) local row_number (parallel) →
    // bounded offset table broadcast back
    val p = spark.sparkContext.defaultParallelism
    val keyed = df.withColumn("__td_dom", domain)
      .withColumn("__td_h",
        md5(concat(id.cast("string"), lit(":"), lit(seed.toString))))
    val parted = graft.util.Release.persist(
      keyed.repartitionByRange(p, col("__td_dom"), col("__td_h"))
        .withColumn("__td_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__td_pid"), col("__td_dom"))
      .orderBy(col("__td_h"))
    val local = parted.withColumn("__td_rn", row_number().over(wLocal))
    val offs = parted.groupBy(col("__td_pid"), col("__td_dom"))
      .agg(count(lit(1)).as("__td_c"))
      .withColumn("__td_off", coalesce(
        sum(col("__td_c")).over(Window.partitionBy(col("__td_dom"))
          .orderBy(col("__td_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__td_pid"), col("__td_dom"), col("__td_off"))
    local.join(broadcast(offs), Seq("__td_pid", "__td_dom"))
      .withColumn("__td_rank", col("__td_rn") + col("__td_off"))
      .join(broadcast(tDf), Seq("__td_dom"))
      .filter(col("__td_rank") <= col("__td_t"))
      .drop("__td_dom", "__td_h", "__td_pid", "__td_rn", "__td_off",
        "__td_rank", "__td_t")
  }

  /** The 12-hex-char split bound for a cumulative ratio: the lowercase
    * hex encoding of `floor(r · 16^12)`, zero-padded — a row lands
    * below it iff the uniform value encoded by its md5 prefix is
    * < r. Exposed so oracle SQL can embed the identical literals. */
  def hashSplitBound(cumRatio: Double): String =
    f"${math.floor(cumRatio * math.pow(16, 12)).toLong}%012x"

  /** Deterministic hash split: assign each row to a named split by
    * comparing the first 12 hex chars of `md5(key ":" seed)` against
    * precomputed hex bounds — a pure row-local projection. Unlike
    * [[splitByRatio]] (exact rank-based proportions, needs a sort)
    * this is ROW-STABLE: a row's split depends only on (key, seed),
    * so adding or removing other rows never reassigns it — the
    * property production pipelines need for incremental corpora.
    * Proportions hold in expectation (±binomial noise).
    *
    * Leakage-safe grouped splitting falls out of the key choice: pass
    * the GROUP key (e.g. the URL host, the user id) and every row of a
    * group lands in the same split, so near-duplicates within a group
    * can never straddle train/test. The q_hash_split oracle asserts
    * zero straddling groups corpus-wide.
    *
    * Scale shape: no shuffle, no sort, no state — one codegen'd pass;
    * the hex-string comparison avoids 64-bit numeric conversion so any
    * SQL engine replays it with substring + string compare. */
  def hashSplit(df: DataFrame, key: Column,
                ratios: Seq[(String, Double)], seed: Long = 42,
                out: String = "split"): DataFrame = {
    require(ratios.nonEmpty, "hashSplit: ratios must be non-empty")
    require(math.abs(ratios.map(_._2).sum - 1.0) < 1e-9,
      "hashSplit: ratios must sum to 1")
    val cum = ratios.scanLeft(0.0)(_ + _._2).tail
    val h = substring(
      md5(concat(key.cast("string"), lit(":" + seed))), 1, 12)
    // reversed fold, same shape as splitByRatio: the tightest bound
    // lands outermost so the label is the FIRST bound the hash is
    // under; the last ratio is the fallback (its bound would be 16^12,
    // a 13-char literal that breaks lexicographic compare)
    val label = ratios.map(_._1).zip(cum).reverse.tail
      .foldLeft(lit(ratios.last._1)) { case (acc, (name, bound)) =>
        when(h < hashSplitBound(bound), name).otherwise(acc)
      }
    df.withColumn(out, label)
  }

  /** Poisson(1) CDF thresholds backing [[bootstrapMeanCI]]'s hash-
    * deterministic resampling weights — exposed so oracle SQL embeds
    * the identical 12-hex literals (same contract as
    * [[hashSplitBound]]). A row's weight in replicate r is the count
    * of thresholds its md5-prefix uniform exceeds: the inverse-CDF
    * draw of Poisson(1), capped at 9 (P > 9 ≈ 1e-7). */
  val poissonBounds: Seq[String] = {
    // cumulative e^{-1}/k! partial sums
    val cdf = Iterator.iterate((0, math.exp(-1.0), math.exp(-1.0))) {
      case (k, term, cum) =>
        val t2 = term / (k + 1); (k + 1, t2, cum + t2)
    }.take(9).map(_._3).toSeq
    cdf.map(hashSplitBound)
  }

  /** Percentile-bootstrap confidence interval of the mean per group —
    * the error bar next to every eval-suite score, made deterministic
    * and distributed via the POISSON bootstrap (Chamandy et al. 2012,
    * "Estimating Uncertainty for Massive Data Streams"): instead of
    * resampling n rows with replacement (which needs global
    * coordination), each row enters replicate r with weight ~
    * Poisson(1), drawn from the row's own `md5(id ":" seed ":" r)`
    * prefix — row-local, engine-portable, and byte-stable across
    * cluster sizes and reruns.
    *
    * Returns {group, mean, ci_lo, ci_hi, n, reps} with the percentile
    * interval at `level` over `reps` replicate means (linear-
    * interpolation quantiles — Spark `percentile` ≡ DuckDB
    * quantile_cont).
    *
    * Scale shape: the explode is a map-side ×reps expansion feeding
    * ONE map-side-combinable (group, replicate) aggregation —
    * shuffle = groups·reps rows, independent of n. Cost scales
    * linearly in reps; the reps ≤ 1024 require keeps the expansion
    * factor explicit. */
  def bootstrapMeanCI(df: DataFrame, id: Column, x: Column,
                      groupNames: Seq[String], reps: Int = 50,
                      level: Double = 0.95, seed: Long = 42)
      : DataFrame = {
    require(reps >= 2 && reps <= 1024,
      s"bootstrapMeanCI: reps must be in [2,1024], got $reps")
    require(level > 0.0 && level < 1.0,
      s"bootstrapMeanCI: level must be in (0,1), got $level")
    val gc = groupNames.map(col)
    val base = df.select(gc :+ id.cast("string").as("__bs_id")
      :+ x.cast("double").as("__bs_x"): _*)
    val exploded = base.withColumn("__bs_r",
      explode(sequence(lit(0), lit(reps - 1))))
    val h = substring(md5(concat(col("__bs_id"), lit(":" + seed + ":"),
      col("__bs_r").cast("string"))), 1, 12)
    val w = poissonBounds.map(b =>
      when(h >= lit(b), 1).otherwise(0)).reduce(_ + _)
    val means = exploded.withColumn("__bs_w", w.cast("double"))
      .groupBy(gc :+ col("__bs_r"): _*)
      .agg((sum(col("__bs_w") * col("__bs_x")) / sum(col("__bs_w")))
        .as("__bs_m"))
    val alpha = (1.0 - level) / 2.0
    val ci = means.groupBy(gc: _*)
      .agg(expr(s"percentile(__bs_m, array($alpha, ${1.0 - alpha}))")
        .as("__bs_ci"))
    val stats = base.groupBy(gc: _*)
      .agg(avg("__bs_x").as("mean"), count(lit(1)).as("n"))
    val joined = stats.join(ci, groupNames)
    joined.select(gc ++ Seq(col("mean"),
      element_at(col("__bs_ci"), 1).as("ci_lo"),
      element_at(col("__bs_ci"), 2).as("ci_hi"),
      col("n"), lit(reps).as("reps")): _*)
  }
}
