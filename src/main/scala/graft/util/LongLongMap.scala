package graft.util

/** Open-addressing long→long map: linear probing, power-of-two
  * capacity, load ≤ ½, and an occupancy array, so every long (0 and
  * negatives included) is a valid key. Boxing-free: keys and values
  * live in primitive arrays — the `java.util.HashMap` union-find it
  * replaced spent multiple cold-JIT seconds allocating Long boxes at
  * 445k edges. 17 B per slot (key, value, occupancy byte) and 2–4
  * slots per entry. Not thread-safe; entries are never removed.
  *
  * The one primitive table of the dedup funnel: the triangle kernel's
  * token df counts and posting heads (`TextOps`) and the union-find
  * parents (`GraphOps`). */
private[graft] final class LongLongMap(expected: Int) {
  private var cap = Integer.highestOneBit(
    math.max(16, expected * 2 - 1)) << 1
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var occ = new Array[Boolean](cap)
  private var n = 0

  private def slot(k: Long): Int = {
    var i = ((k * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
    while (occ(i) && keys(i) != k) i = (i + 1) & mask
    i
  }

  /** Number of keys. */
  def size: Int = n

  /** The value of `k`, or `absent` when `k` has none. */
  def get(k: Long, absent: Long): Long = {
    val i = slot(k); if (occ(i)) vals(i) else absent
  }

  def put(k: Long, v: Long): Unit = {
    val i = slot(k)
    if (occ(i)) vals(i) = v else insert(i, k, v)
  }

  /** Stores `v` and returns the previous value, or `absent`. */
  def getAndPut(k: Long, v: Long, absent: Long): Long = {
    val i = slot(k)
    if (occ(i)) { val p = vals(i); vals(i) = v; p }
    else { insert(i, k, v); absent }
  }

  /** Adds `delta` to the value of `k`; an absent key counts from 0. */
  def add(k: Long, delta: Long): Unit = {
    val i = slot(k)
    if (occ(i)) vals(i) += delta else insert(i, k, delta)
  }

  /** f(key, value) for every entry, in table order. `f` may overwrite
    * values of existing keys but must not insert. */
  def foreachEntry(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (occ(i)) f(keys(i), vals(i)); i += 1 }
  }

  private def insert(i: Int, k: Long, v: Long): Unit = {
    occ(i) = true; keys(i) = k; vals(i) = v; n += 1
    if (n * 2 > cap) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val oo = occ; val oc = cap
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    occ = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (oo(i)) {
        val s = slot(ok(i))
        occ(s) = true; keys(s) = ok(i); vals(s) = ov(i)
      }
      i += 1
    }
  }
}
