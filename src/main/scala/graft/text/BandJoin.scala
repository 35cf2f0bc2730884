package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded-LSH candidate generation, shared by every near-dup family:
  * MinHash and SimHash text dedup, image dHash MIH and cosine
  * hyperplanes. A band table holds one row per (item, band) with the
  * item id `i`, the block key `blk` ([[blockKey]]), the band index `b`
  * and the bucket key `h`, plus whatever fingerprint the family
  * verifies with. Two items are candidates when they share a
  * (b, h, blk) bucket — a hash equi-join, so the work is Σ bucket²,
  * never n².
  *
  * A sweep pairs the `fresh` items with each other and, when a corpus
  * band table is given, with the corpus too: a batch sweep is the
  * incremental sweep with no corpus. Ids must be distinct across fresh
  * and corpus items.
  */
private[graft] object BandJoin {

  /** The `blk` column: `blocking` (one constant block when unset)
    * wrapped in a struct, so NULL blocks match each other under `===`
    * and pairs never cross blocks. */
  def blockKey(blocking: Option[Column]): Column =
    struct(blocking.getOrElse(lit(0)).as("k")).as("blk")

  /** The join columns (i, blk, b, h) of a band table, without its
    * fingerprint. */
  def keys(bands: DataFrame): DataFrame =
    bands.select(col("i"), col("blk"), col("b"), col("h"))

  /** Candidate rows (id1, id2, extra*) with id1 < id2, one per shared
    * bucket — a pair colliding in several bands repeats, so callers
    * verify and dedup. `extra` reads the joined sides as `l` and `r`.
    * Legs: `probe` × `fresh` with l.i < r.i, and, given a corpus,
    * [[corpusLeg]]. `probe` is `fresh` itself, or `fresh` with each
    * bucket key expanded to a probe ball (image MIH). */
  def candidates(probe: DataFrame, fresh: DataFrame,
                 corpus: Option[DataFrame], extra: Column*): DataFrame = {
    val within = bucket(probe, fresh, col("l.i") < col("r.i"))
      .select(col("l.i").as("id1") +: col("r.i").as("id2") +: extra: _*)
    corpus.fold(within)(c => within.union(corpusLeg(probe, c, extra: _*)))
  }

  /** The corpus leg of [[candidates]]: `probe` × `corpus` with
    * l.i ≠ r.i, normalized to id1 < id2 by least/greatest. */
  def corpusLeg(probe: DataFrame, corpus: DataFrame,
                extra: Column*): DataFrame =
    bucket(probe, corpus, col("l.i") =!= col("r.i"))
      .select(least(col("l.i"), col("r.i")).as("id1") +:
        greatest(col("l.i"), col("r.i")).as("id2") +: extra: _*)

  private def bucket(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.as("l").join(r.as("r"), col("l.b") === col("r.b") &&
      col("l.h") === col("r.h") && col("l.blk") === col("r.blk") && cond)
}
