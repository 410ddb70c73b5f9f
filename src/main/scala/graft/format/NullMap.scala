package graft.format

/** Four-way null-mask codec, mirroring the reference's bitmap
  * specialization ALLONES / ALLZEROS / REGULAR / FLIPPED
  * (/root/reference/btrblocks/extern/RoaringBitmap.cpp:117-159) — but with
  * our own wire format: the minority positions are delta-bitpacked rather
  * than Roaring-encoded (wire compatibility is a non-goal; capability is).
  */
object NullMap {
  val NoNulls = 0 // every row valid
  val AllNulls = 1 // every row null
  val NullPositions = 2 // nulls are the minority: store null row indices
  val ValidPositions = 3 // nulls are the majority: store valid row indices

  /** Encode `isNull` (dense per-row flags). Returns the NULL COUNT (the
    * caller needs it for footer stats; counting here avoids a second full
    * pass over the flags).
    */
  def encode(isNull: Array[Boolean], count: Int, out: BufWriter): Int = {
    var nulls = 0
    var i = 0
    while (i < count) { if (isNull(i)) nulls += 1; i += 1 }
    if (nulls == 0) { out.putByte(NoNulls); nulls }
    else if (nulls == count) { out.putByte(AllNulls); nulls }
    else {
      val storeNulls = nulls * 2 <= count
      val kind = if (storeNulls) NullPositions else ValidPositions
      val n = if (storeNulls) nulls else count - nulls
      val positions = new Array[Long](n)
      var p = 0
      i = 0
      while (i < count) {
        if (isNull(i) == storeNulls) { positions(p) = i.toLong; p += 1 }
        i += 1
      }
      out.putByte(kind)
      out.putInt(n)
      val width = Bitpack.bitsFor((count - 1).toLong)
      out.putByte(width)
      Bitpack.pack(positions, n, width, out)
      nulls
    }
  }

  /** Decode into a fresh dense flag array of length `count`. */
  def decode(in: BufReader, count: Int): Array[Boolean] =
    decodeWithFlag(in, count)._1

  /** Decode returning (flags, anyNull) — the flag lets readers take a
    * null-check-free bulk-copy fast path for all-valid chunks. `reuse`,
    * when non-null, receives the flags in its first `count` slots (it
    * may be longer) instead of a fresh array.
    */
  def decodeWithFlag(in: BufReader, count: Int,
      reuse: Array[Boolean] = null): (Array[Boolean], Boolean) = {
    val isNull = if (reuse != null) reuse else new Array[Boolean](count)
    var any = true
    in.getByte() match {
      case NoNulls =>
        any = false
        if (reuse != null) java.util.Arrays.fill(isNull, 0, count, false)
      case AllNulls => java.util.Arrays.fill(isNull, 0, count, true)
      case kind =>
        val n = in.getInt()
        val width = in.getByte()
        val positions = Bitpack.unpackAlloc(in, n, width)
        if (kind == NullPositions) {
          if (reuse != null) java.util.Arrays.fill(isNull, 0, count, false)
          var i = 0
          while (i < n) { isNull(positions(i).toInt) = true; i += 1 }
        } else {
          java.util.Arrays.fill(isNull, 0, count, true)
          var i = 0
          while (i < n) { isNull(positions(i).toInt) = false; i += 1 }
        }
    }
    (isNull, any)
  }
}
