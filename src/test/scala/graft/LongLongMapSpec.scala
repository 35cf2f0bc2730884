package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.LongLongMap

/** The dedup funnel's one primitive table, [[LongLongMap]]: every long
  * is a valid key, and through many doublings it answers exactly as a
  * `java.util.HashMap` reference does. */
class LongLongMapSpec extends AnyFunSuite {

  private def entries(m: LongLongMap): Map[Long, Long] = {
    val b = Map.newBuilder[Long, Long]
    var n = 0
    m.foreachEntry { (k, v) => b += (k -> v); n += 1 }
    val out = b.result()
    assert(out.size == n, "foreachEntry visited a key twice")
    out
  }

  test("0, -1, Long.MinValue and Long.MaxValue are ordinary keys") {
    val edge = Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    val m = new LongLongMap(16)
    edge.foreach(k => assert(m.get(k, 42L) == 42L))
    edge.zipWithIndex.foreach { case (k, i) => m.put(k, i.toLong) }
    assert(m.size == 4)
    edge.zipWithIndex.foreach { case (k, i) => assert(m.get(k, -7L) == i) }
    assert(m.getAndPut(0L, 10L, -7L) == 0L)
    assert(m.getAndPut(Long.MinValue, -10L, -7L) == 2L)
    m.add(-1L, 5L)
    m.add(Long.MaxValue, -4L)
    assert(entries(m) == Map(0L -> 10L, -1L -> 6L, Long.MinValue -> -10L,
      Long.MaxValue -> -1L))
    // a value equal to the `absent` sentinel is still a stored value
    val z = new LongLongMap(16)
    assert(z.getAndPut(-1L, -1L, -1L) == -1L && z.size == 1)
    z.add(5L, 0L)
    assert(z.size == 2 && z.get(5L, 9L) == 0L)
  }

  test("100k random keys from the minimum capacity through many " +
      "doublings match a java.util.HashMap") {
    val rng = new scala.util.Random(7)
    val m = new LongLongMap(1)
    val ref = new java.util.HashMap[Long, Long]()
    // a small key range as well as the full one, so puts, getAndPuts
    // and adds also land on keys already present
    def key(): Long =
      if (rng.nextBoolean()) rng.nextLong() else rng.nextInt(40000) - 20000L
    var i = 0
    while (i < 100000) {
      val k = key(); val v = rng.nextLong()
      rng.nextInt(3) match {
        case 0 =>
          m.put(k, v); ref.put(k, v)
        case 1 =>
          val prev = if (ref.containsKey(k)) ref.get(k) else Long.MinValue
          assert(m.getAndPut(k, v, Long.MinValue) == prev)
          ref.put(k, v)
        case _ =>
          val d = rng.nextInt(1000) - 500L
          m.add(k, d)
          ref.put(k, (if (ref.containsKey(k)) ref.get(k) else 0L) + d)
      }
      val probe = key()
      val want = if (ref.containsKey(probe)) ref.get(probe) else 12345L
      assert(m.get(probe, 12345L) == want)
      assert(m.size == ref.size)
      i += 1
    }
    assert(ref.size > 50000, "too few distinct keys to force many doublings")
    import scala.jdk.CollectionConverters._
    assert(entries(m) == ref.asScala.toMap)
    ref.asScala.foreach { case (k, v) => assert(m.get(k, ~v) == v) }
  }
}
