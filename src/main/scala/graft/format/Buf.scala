package graft.format

import java.nio.{ByteBuffer, ByteOrder}

/** Growable little-endian binary writer used by every encoder.
  *
  * Mirrors the role of the raw `u8*` output buffers in the reference
  * (/root/reference/btrblocks/compression/Datablock.cpp:54-148) but with
  * bounds-safe growth; all multi-byte values are little-endian.
  */
final class BufWriter(initialCapacity: Int = 1 << 16) {
  private var buf: Array[Byte] = new Array[Byte](math.max(initialCapacity, 64))
  private var posv: Int = 0

  private def ensure(n: Int): Unit = {
    if (posv + n > buf.length) {
      val need = posv.toLong + n
      // fail loudly near the array-size ceiling: an unguarded doubling
      // loop would wrap negative past 2^30 and spin forever
      require(need <= Int.MaxValue - 16,
        s"btr buffer: encoded block would exceed 2 GiB ($need bytes) — lower btr.blockSize")
      var cap = buf.length.toLong
      while (cap < need) cap = cap << 1
      buf = java.util.Arrays.copyOf(buf, math.min(cap, Int.MaxValue - 16L).toInt)
    }
  }

  def pos: Int = posv

  /** Roll back to an earlier position (anti-regression guard rewrites). */
  def truncate(p: Int): Unit = { require(p >= 0 && p <= posv); posv = p }

  def putByte(v: Int): Unit = { ensure(1); buf(posv) = v.toByte; posv += 1 }

  def putInt(v: Int): Unit = {
    ensure(4)
    buf(posv) = v.toByte
    buf(posv + 1) = (v >>> 8).toByte
    buf(posv + 2) = (v >>> 16).toByte
    buf(posv + 3) = (v >>> 24).toByte
    posv += 4
  }

  def putLong(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { buf(posv + i) = (v >>> (8 * i)).toByte; i += 1 }
    posv += 8
  }

  def putDouble(v: Double): Unit = putLong(java.lang.Double.doubleToRawLongBits(v))

  def putBytes(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len); System.arraycopy(b, off, buf, posv, len); posv += len
  }
  def putBytes(b: Array[Byte]): Unit = putBytes(b, 0, b.length)

  def putLongs(vs: Array[Long], count: Int): Unit = {
    ensure(count * 8)
    var i = 0
    while (i < count) {
      val v = vs(i)
      var j = 0
      while (j < 8) { buf(posv + j) = (v >>> (8 * j)).toByte; j += 1 }
      posv += 8
      i += 1
    }
  }

  /** Patch a previously written 4-byte slot (used for length prefixes). */
  def patchInt(at: Int, v: Int): Unit = {
    buf(at) = v.toByte
    buf(at + 1) = (v >>> 8).toByte
    buf(at + 2) = (v >>> 16).toByte
    buf(at + 3) = (v >>> 24).toByte
  }

  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, posv)

  /** Unsafe view of the backing array — valid up to [[pos]]. */
  def backing: Array[Byte] = buf
}

/** Little-endian binary reader over a byte slice. */
final class BufReader(bytes: Array[Byte], start: Int, end: Int) {
  def this(bytes: Array[Byte]) = this(bytes, 0, bytes.length)
  private val bb: ByteBuffer =
    ByteBuffer.wrap(bytes, start, end - start).order(ByteOrder.LITTLE_ENDIAN)

  /** Absolute index into [[array]]. */
  def pos: Int = bb.position()
  /** The backing array, for kernels that read a slice in place. */
  def array: Array[Byte] = bytes
  def remaining: Int = bb.remaining()
  def getByte(): Int = bb.get() & 0xff
  def getInt(): Int = bb.getInt()
  def getLong(): Long = bb.getLong()
  def getDouble(): Double = java.lang.Double.longBitsToDouble(bb.getLong())
  def getBytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); bb.get(a); a }
  def getLongs(n: Int): Array[Long] = {
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = bb.getLong(); i += 1 }
    a
  }
  /** Advance `n` bytes; fails if that passes the slice's end. */
  def skip(n: Int): Unit = bb.position(bb.position() + n)

  /** Independent reader over the same bytes at the current position
    * (used by structural walkers that need to look ahead).
    */
  def duplicate(): BufReader = {
    val d = new BufReader(bytes, start, end)
    d.bb.position(bb.position())
    d
  }
}
