package graft.format

/** The dictionary of one chunk: its distinct values in ascending order
  * (the Dict schemes' table) and each row's rank among them (the code
  * stream), built in one open-addressing pass over the rows.
  *
  * The pass maps each value to the id of its first occurrence, so only
  * the distinct entries are sorted; each sorted entry then looks its id up
  * in the same table, and the per-row ids are remapped to sorted ranks.
  * Slots come from the high bits of a Fibonacci product
  * (`v * 0x9E3779B97F4A7C15 >>> (64 - bits)`): low-bit slotting clusters
  * on the raw bits of small-integer doubles, whose low mantissa bits are
  * all zero. The table starts at twice the caller's distinct-count hint
  * (the chunk's NDV estimate) and doubles whenever it gets half full, so
  * a low hint costs rehashes, never a wrong result.
  */
object DictBuild {
  private final val Phi = 0x9E3779B97F4A7C15L

  /** Sorted distinct longs (signed order) and per-row codes. */
  final class Longs(val entries: Array[Long], val codes: Array[Long])

  /** Sorted distinct byte strings (unsigned lexicographic order) and
    * per-row codes.
    */
  final class Bytes(val entries: Array[Array[Byte]], val codes: Array[Long])

  /** log2 of the initial table size: room for `hint` distinct values at
    * half load, and no more than `count` of them can appear.
    */
  private def initialBits(hint: Int, count: Int): Int = {
    val want = 2L * math.max(1, math.min(hint, count))
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(want - 1))
  }

  @inline private def slotOf(h: Long, bits: Int): Int = ((h * Phi) >>> (64 - bits)).toInt

  def longs(values: Array[Long], count: Int, distinctHint: Int): Longs = {
    var bits = initialBits(distinctHint, count)
    var mask = (1 << bits) - 1
    var keys = new Array[Long](1 << bits)
    var ids = new Array[Int](1 << bits) // first-seen id + 1; 0 = empty
    var firsts = new Array[Long](1 << (bits - 1))
    val codes = new Array[Long](count)
    var n = 0
    var i = 0
    while (i < count) {
      val v = values(i)
      var h = slotOf(v, bits)
      while (ids(h) != 0 && keys(h) != v) h = (h + 1) & mask
      if (ids(h) == 0) {
        keys(h) = v
        ids(h) = n + 1
        firsts(n) = v
        n += 1
        if (n == firsts.length) {
          // half full: double and reinsert by first-seen id
          bits += 1
          mask = (1 << bits) - 1
          keys = new Array[Long](1 << bits)
          ids = new Array[Int](1 << bits)
          var id = 0
          while (id < n) {
            val k = firsts(id)
            var s = slotOf(k, bits)
            while (ids(s) != 0) s = (s + 1) & mask
            keys(s) = k
            ids(s) = id + 1
            id += 1
          }
          firsts = java.util.Arrays.copyOf(firsts, 1 << (bits - 1))
        }
        codes(i) = n - 1
      } else codes(i) = ids(h) - 1
      i += 1
    }
    val entries = java.util.Arrays.copyOf(firsts, n)
    java.util.Arrays.sort(entries)
    val rank = new Array[Int](n)
    var r = 0
    while (r < n) {
      val v = entries(r)
      var h = slotOf(v, bits)
      while (keys(h) != v) h = (h + 1) & mask
      rank(ids(h) - 1) = r
      r += 1
    }
    i = 0
    while (i < count) { codes(i) = rank(codes(i).toInt); i += 1 }
    new Longs(entries, codes)
  }

  def bytes(values: Array[Array[Byte]], count: Int, distinctHint: Int): Bytes = {
    var bits = initialBits(distinctHint, count)
    var mask = (1 << bits) - 1
    var keys = new Array[Array[Byte]](1 << bits)
    var hashes = new Array[Int](1 << bits)
    var ids = new Array[Int](1 << bits) // first-seen id + 1; 0 = empty
    var firsts = new Array[Array[Byte]](1 << (bits - 1))
    val codes = new Array[Long](count)
    var n = 0
    var i = 0
    while (i < count) {
      val v = values(i)
      val hv = java.util.Arrays.hashCode(v)
      var h = slotOf(hv, bits)
      while (ids(h) != 0 && (hashes(h) != hv || !java.util.Arrays.equals(keys(h), v)))
        h = (h + 1) & mask
      if (ids(h) == 0) {
        keys(h) = v
        hashes(h) = hv
        ids(h) = n + 1
        firsts(n) = v
        n += 1
        if (n == firsts.length) {
          bits += 1
          mask = (1 << bits) - 1
          keys = new Array[Array[Byte]](1 << bits)
          hashes = new Array[Int](1 << bits)
          ids = new Array[Int](1 << bits)
          var id = 0
          while (id < n) {
            val hk = java.util.Arrays.hashCode(firsts(id))
            var s = slotOf(hk, bits)
            while (ids(s) != 0) s = (s + 1) & mask
            keys(s) = firsts(id)
            hashes(s) = hk
            ids(s) = id + 1
            id += 1
          }
          firsts = java.util.Arrays.copyOf(firsts, 1 << (bits - 1))
        }
        codes(i) = n - 1
      } else codes(i) = ids(h) - 1
      i += 1
    }
    val entries = java.util.Arrays.copyOf(firsts, n)
    java.util.Arrays.sort(entries, ByteKey.lexicographic)
    val rank = new Array[Int](n)
    var r = 0
    while (r < n) {
      val v = entries(r)
      val hv = java.util.Arrays.hashCode(v)
      var h = slotOf(hv, bits)
      while (hashes(h) != hv || !java.util.Arrays.equals(keys(h), v)) h = (h + 1) & mask
      rank(ids(h) - 1) = r
      r += 1
    }
    i = 0
    while (i < count) { codes(i) = rank(codes(i).toInt); i += 1 }
    new Bytes(entries, codes)
  }
}
