package graft.format

/** Fixed-width bit-packing over 64-bit words.
  *
  * Functional equivalent of the reference's FastBP/FastPFor codecs
  * (/root/reference/btrblocks/extern/FastPFOR.hpp:11-33); our own wire
  * layout: values are packed LSB-first into little-endian u64 words.
  * Tight primitive-array loops so the JIT can vectorize.
  */
object Bitpack {

  def mask(width: Int): Long = if (width >= 64) -1L else (1L << width) - 1L

  /** Bits needed to represent an unsigned value (0 for value 0). */
  def bitsFor(value: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(value)

  /** Bits for the unsigned range max-min (treating wraparound as u64). */
  def bitsForRange(min: Long, max: Long): Int = bitsFor(max - min)

  def numWords(count: Int, width: Int): Int =
    (((count.toLong * width) + 63) >>> 6).toInt

  def packedBytes(count: Int, width: Int): Int = numWords(count, width) * 8

  /** Pack `count` values (masked to `width` bits) and append to `out`. */
  def pack(values: Array[Long], count: Int, width: Int, out: BufWriter): Unit = {
    if (width == 0 || count == 0) return
    val m = mask(width)
    val words = new Array[Long](numWords(count, width))
    var i = 0
    while (i < count) {
      val bitpos = i.toLong * width
      val w = (bitpos >>> 6).toInt
      val off = (bitpos & 63).toInt
      val v = values(i) & m
      words(w) |= v << off
      if (off + width > 64) words(w + 1) |= v >>> (64 - off)
      i += 1
    }
    out.putLongs(words, words.length)
  }

  /** Unpack `count` width-bit values into `out` (no sign extension). The
    * words are read in place from `in`'s byte array
    * ([[BitpackKernel.unpack]]); `in` advances past them.
    */
  def unpack(in: BufReader, count: Int, width: Int, out: Array[Long]): Unit = {
    if (width == 0) { java.util.Arrays.fill(out, 0, count, 0L); return }
    if (count == 0) return
    require(width <= 64, s"btr: bit width $width > 64 (corrupt chunk)")
    val off = in.pos
    // bounds-check the packed words against the reader's slice (its
    // backing array may be a reused buffer longer than the chunk)
    in.skip(packedBytes(count, width))
    BitpackKernel.unpack(in.array, off, count, width, out)
  }

  def unpackAlloc(in: BufReader, count: Int, width: Int): Array[Long] = {
    val out = new Array[Long](count)
    unpack(in, count, width, out)
    out
  }
}
