package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the streaming dedup state. Both streaming dedup
  * twins pair documents in one bucket-state loop, `StreamOps`'
  * `bucketPairs`, and band a SimHash with the batch banding
  * (`TextOps.simHashBands`). So under `src/main/scala/graft` a
  * `.flatMapGroupsWithState` or a `.take(maxPerBucket)` occurs only
  * inside `bucketPairs`, and no source outside `text/` shifts a band
  * index into a key with `<< 32`. Comments do not count. */
class StreamStateLintSpec extends AnyFunSuite {

  private val statePatterns = Seq(
    raw"\.flatMapGroupsWithState\b",
    raw"\.take\(\s*maxPerBucket\s*\)").map(_.r)
  private val bandShift = Seq(raw"<<\s*32\b".r)

  private val stream = "/streaming/StreamOps.scala"

  /** Line numbers (1-based) of `src`'s `private def bucketPairs`, from
    * its def line through its closing brace. */
  private def loopLines(src: String): Range = {
    val ls = src.split('\n')
    val start = ls.indexWhere(_.contains("private def bucketPairs"))
    assert(start >= 0, "StreamOps has no bucketPairs")
    val indent = ls(start).takeWhile(_ == ' ')
    val end = ls.indexWhere(_.stripTrailing() == indent + "}", start)
    assert(end > start, "bucketPairs has no closing brace")
    (start + 1) to (end + 1)
  }

  test("flatMapGroupsWithState and the bucket cap occur only in " +
      "StreamOps' one bucket-state loop") {
    val all = SourceLint.sources()
    val offenses = SourceLint.offenses(statePatterns, Seq(stream), all)
    assert(offenses.isEmpty,
      "hand-written band-bucket state; call StreamOps.bucketPairs " +
        "instead:\n" + offenses.mkString("\n"))
    val src = SourceLint.only(stream, all)
    val loop = loopLines(src)
    val hits = SourceLint.lines(src, statePatterns)
    assert(hits.forall(loop.contains),
      s"StreamOps lines ${hits.filterNot(loop.contains)} keep bucket " +
        "state outside bucketPairs")
    assert(SourceLint.lines(src, statePatterns.take(1)).size == 1,
      "StreamOps has more or fewer than one dedup state loop")
    assert(SourceLint.lines(src, statePatterns.drop(1)).size == 2,
      "bucketPairs no longer caps its ids and fingerprints")
  }

  test("only text/ bands a SimHash into 32-bit keys") {
    val outside = SourceLint.sources().filterNot(_._1.contains("/text/"))
    val offenses = SourceLint.offenses(bandShift, Nil, outside)
    assert(offenses.isEmpty,
      "hand-written SimHash banding; call TextOps.simHashBands " +
        "instead:\n" + offenses.mkString("\n"))
  }

  test("the lint catches planted copies and skips comments") {
    val planted =
      """val banded = docs.flatMap { case (id, w0, w1) =>
        |  Seq(((0L << 32) | (w0 & 0xffffffffL), id, w0, w1)) }
        |banded.groupByKey(_._1)(Encoders.scalaLong)
        |  .flatMapGroupsWithState[BandBucket, (Long, Long, Int)](
        |    OutputMode.Append(), GroupStateTimeout.NoTimeout) { f }
        |ids = (id :: ids).take(maxPerBucket)""".stripMargin
    assert(SourceLint.lines(planted, statePatterns) == Seq(4, 6))
    assert(SourceLint.lines(planted, bandShift) == Seq(2))
    assert(SourceLint.lines("(3L<<32) | h", bandShift) == Seq(1))
    // prose and other shifts or caps never count
    assert(SourceLint.lines("// state via .flatMapGroupsWithState here",
      statePatterns).isEmpty)
    assert(SourceLint.lines("  * `(b << 32) | h` keys", bandShift).isEmpty)
    assert(SourceLint.lines("x.take(maxRows)", statePatterns).isEmpty)
    assert(SourceLint.lines("s.mapGroupsWithState[S, S](t) { f }",
      statePatterns).isEmpty)
    assert(SourceLint.lines("(i.toLong << 320)", bandShift).isEmpty)
  }
}
