package graft.format

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Round-trip tests mirroring the reference's per-scheme tests
  * (/root/reference/test/test-cases/V2.cpp) over scheme-triggering
  * distributions (/root/reference/test/DatasetGenerator.cpp), plus
  * randomized property-style checks. Seeded for determinism.
  */
class CodecSpec extends AnyFunSuite {

  private def roundTripInts(values: Array[Long], physWidth: Int = 8, depth: Int = 3): Unit = {
    val out = new BufWriter()
    IntCodec.encode(out, values, values.length, physWidth, depth)
    val decoded = IntCodec.decode(new BufReader(out.result()), values.length)
    assert(decoded.toSeq == values.toSeq)
  }

  private def roundTripDoubles(values: Array[Double], depth: Int = 3): Unit = {
    val out = new BufWriter()
    DoubleCodec.encode(out, values, values.length, depth)
    val decoded = DoubleCodec.decode(new BufReader(out.result()), values.length)
    var i = 0
    while (i < values.length) {
      assert(
        java.lang.Double.doubleToRawLongBits(decoded(i)) ==
          java.lang.Double.doubleToRawLongBits(values(i)),
        s"bit mismatch at $i: ${values(i)} vs ${decoded(i)}"
      )
      i += 1
    }
  }

  private def roundTripStrings(values: Array[Array[Byte]], depth: Int = 3): Unit = {
    val out = new BufWriter()
    StringCodec.encode(out, values, values.length, depth)
    val (lens, bytes) = StringCodec.decode(new BufReader(out.result()), values.length)
    var off = 0
    var i = 0
    while (i < values.length) {
      val got = java.util.Arrays.copyOfRange(bytes, off, off + lens(i))
      assert(java.util.Arrays.equals(got, values(i)), s"string mismatch at $i")
      off += lens(i)
      i += 1
    }
  }

  private def compressedSize(encode: BufWriter => Unit): Int = {
    val out = new BufWriter()
    encode(out)
    out.pos
  }

  // --- bitpack ---
  test("bitpack round-trips all widths") {
    val rnd = new Random(42)
    for (width <- 0 to 64) {
      val n = 1000 + rnd.nextInt(100)
      val m = Bitpack.mask(width)
      val vals = Array.fill(n)(rnd.nextLong() & m)
      val out = new BufWriter()
      Bitpack.pack(vals, n, width, out)
      val back = Bitpack.unpackAlloc(new BufReader(out.result()), n, width)
      assert(back.toSeq == vals.toSeq, s"width $width")
    }
  }

  test("bitpack reads its words in place and only inside the reader's slice") {
    val rnd = new Random(43)
    for (width <- Seq(1, 7, 8, 13, 32, 33, 63, 64); n <- Seq(1, 63, 64, 65, 1000)) {
      val vals = Array.fill(n)(rnd.nextLong() & Bitpack.mask(width))
      val out = new BufWriter()
      out.putInt(0x5eed) // the words start mid-array
      Bitpack.pack(vals, n, width, out)
      val packed = out.result()
      // a reused buffer: the slice is followed by a stale tail
      val buf = java.util.Arrays.copyOf(packed, packed.length + 64)
      java.util.Arrays.fill(buf, packed.length, buf.length, 0xff.toByte)
      val in = new BufReader(buf, 0, packed.length)
      in.skip(4)
      val back = new Array[Long](n + 3)
      java.util.Arrays.fill(back, 7L)
      Bitpack.unpack(in, n, width, back)
      assert(back.take(n).toSeq == vals.toSeq, s"width $width n $n")
      assert(back.drop(n).forall(_ == 7L), "unpack wrote past count")
      assert(in.remaining == 0)
      // a slice one byte short of the words fails instead of reading the tail
      val short = new BufReader(buf, 4, packed.length - 1)
      assertThrows[IllegalArgumentException](Bitpack.unpack(short, n, width, back))
    }
  }

  test("decodeForScan into reused buffers: 65,536, then 1, then 0 values") {
    val rnd = new Random(44)
    def chunk(tag: Int, n: Int, withNulls: Boolean): ColumnChunk = {
      val c = new ColumnChunk(tag, n)
      c.isNull = Array.tabulate(n)(i => withNulls && i % 5 == 0)
      if (tag == PhysType.Double)
        c.doubles = Array.tabulate(n)(i => if (c.isNull(i)) 0.0 else rnd.nextInt(10000) / 100.0)
      else if (tag == PhysType.Str) c.strings = Array.tabulate(n)(i =>
        if (c.isNull(i)) Array.emptyByteArray else s"v${rnd.nextInt(1 + n / 8)}".getBytes("UTF-8"))
      else c.longs = Array.tabulate(n)(i => if (c.isNull(i)) 0L else 1000000L + rnd.nextInt(1 << 20))
      c
    }
    def encoded(c: ColumnChunk, cfg: BtrConfig): Array[Byte] = {
      val out = new BufWriter()
      ChunkCodec.encode(out, c, 3, cfg)
      out.result()
    }
    val configs = Seq(
      PhysType.Int64 -> BtrConfig.Default,
      PhysType.Int64 -> BtrConfig.Default.copy(forceInt = Some(IntCodec.Dict)),
      PhysType.Int32 -> BtrConfig.Default.copy(forceInt = Some(IntCodec.ForBp)),
      PhysType.Double -> BtrConfig.Default,
      PhysType.Double -> BtrConfig.Default.copy(forceDouble = Some(DoubleCodec.Dict)),
      PhysType.Str -> BtrConfig.Default.copy(forceString = Some(StringCodec.Dict)))
    for ((tag, cfg) <- configs) {
      val reused = new ChunkCodec.ScanOut
      // the first, largest chunk has nulls and the smaller ones none, so
      // a stale flag or value would show in the later ones
      for ((n, nulls) <- Seq(65536 -> true, 1 -> false, 0 -> false)) {
        val c = chunk(tag, n, nulls)
        // a forced scheme cannot encode an empty chunk
        val bytes = encoded(c, if (n == 0) BtrConfig.Default else cfg)
        val fresh = ChunkCodec.decodeForScan(new BufReader(bytes), tag, n)
        val dec = ChunkCodec.decodeForScan(new BufReader(bytes), tag, n, out = reused)
        assert(dec.hasNulls == fresh.hasNulls && dec.hasNulls == (n > 0 && nulls), s"tag $tag n $n")
        val strOff = if (dec.strLens == null) null else dec.strLens.take(n).scanLeft(0)(_ + _)
        var i = 0
        while (i < n) {
          assert(dec.isNull(i) == c.isNull(i), s"tag $tag n $n null flag at $i")
          if (!c.isNull(i)) {
            if (tag == PhysType.Str) {
              val v =
                if (dec.dictEntries == null)
                  java.util.Arrays.copyOfRange(dec.strBytes, strOff(i), strOff(i) + dec.strLens(i))
                else if (dec.longs == null) dec.dictEntries(0)
                else dec.dictEntries(dec.longs(i).toInt)
              assert(java.util.Arrays.equals(v, c.strings(i)), s"n $n row $i")
            } else if (dec.dictLongs != null) {
              val bits = dec.dictLongs(dec.longs(i).toInt)
              val want =
                if (tag == PhysType.Double) java.lang.Double.doubleToRawLongBits(c.doubles(i)) else c.longs(i)
              assert(bits == want, s"tag $tag n $n row $i")
            } else if (tag == PhysType.Double) assert(dec.doubles(i) == c.doubles(i), s"n $n row $i")
            else assert(dec.longs(i) == c.longs(i), s"tag $tag n $n row $i")
          }
          i += 1
        }
      }
    }
  }

  // --- nullmap ---
  test("nullmap four kinds round-trip") {
    val rnd = new Random(7)
    val cases = Seq(
      Array.fill(1000)(false), // NoNulls
      Array.fill(1000)(true), // AllNulls
      Array.fill(1000)(rnd.nextInt(10) == 0), // sparse nulls
      Array.fill(1000)(rnd.nextInt(10) != 0) // sparse valids
    )
    for (isNull <- cases) {
      val out = new BufWriter()
      NullMap.encode(isNull, isNull.length, out)
      val back = NullMap.decode(new BufReader(out.result()), isNull.length)
      assert(back.toSeq == isNull.toSeq)
    }
  }

  // --- int schemes (DatasetGenerator families) ---
  test("int one_value") { roundTripInts(Array.fill(65000)(100L)) }

  test("int small-range large-bias (truncation analog)") {
    val rnd = new Random(1)
    roundTripInts(Array.fill(65000)(32767L + rnd.nextInt(127)), physWidth = 4)
  }

  test("int dict (255 and 1020 distinct)") {
    for (n <- Seq(255, 1020)) {
      val rnd = new Random(2)
      val dict = Array.fill(n)(rnd.nextLong())
      roundTripInts(Array.tabulate(65000)(i => dict(i % n)))
    }
  }

  test("int rle long runs") {
    val rnd = new Random(3)
    val vals = new scala.collection.mutable.ArrayBuffer[Long]()
    while (vals.length < 65000) {
      val v = rnd.nextInt(100).toLong
      val run = 50 + rnd.nextInt(200)
      for (_ <- 0 until run) vals += v
    }
    roundTripInts(vals.take(65000).toArray)
  }

  test("int frequency (90% top value)") {
    val rnd = new Random(4)
    roundTripInts(Array.tabulate(65000)(i => if (rnd.nextInt(100) < 95) 7L else rnd.nextLong()))
  }

  test("int sorted (delta)") {
    val rnd = new Random(5)
    var acc = 0L
    roundTripInts(Array.fill(65000) { acc += rnd.nextInt(10); acc })
  }

  test("int delta_bp forced: round-trips at 0, 1, 2 and 65,536 values, zero and negative deltas") {
    def forced(values: Array[Long]): Unit = {
      val out = new BufWriter()
      IntCodec.encodeForced(IntCodec.DeltaBp, out, values, values.length, 8, 3)
      val bytes = out.result()
      assert(bytes(0) == IntCodec.DeltaBp)
      assert(IntCodec.decode(new BufReader(bytes), values.length).toSeq == values.toSeq)
      // a larger output array (the scan's reused buffers): the tail is untouched
      val big = Array.fill(values.length + 3)(-7L)
      IntCodec.decodeInto(new BufReader(bytes), values.length, big)
      assert(big.take(values.length).toSeq == values.toSeq)
      assert(big.drop(values.length).forall(_ == -7L))
    }
    forced(Array.emptyLongArray)
    forced(Array(-42L))
    forced(Array(5L, 5L))
    forced(Array(5L, -3L))
    val rnd = new Random(17)
    var acc = 1000L
    // steps in -3..3: zero and negative deltas, FOR-rebased to a 3-bit width
    forced(Array.fill(65536) { acc += rnd.nextInt(7) - 3; acc })
    forced(Array.fill(65536)(9L))
    forced(Array.tabulate(65536)(i => Long.MaxValue - 2L * i))
  }

  test("int extremes and random") {
    roundTripInts(Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, Int.MinValue.toLong, Int.MaxValue.toLong))
    val rnd = new Random(6)
    roundTripInts(Array.fill(10000)(rnd.nextLong()))
    roundTripInts(Array.emptyLongArray)
    roundTripInts(Array(42L))
  }

  test("int compresses (dict/rle/freq beat raw)") {
    val rnd = new Random(8)
    val rle = {
      val vals = new scala.collection.mutable.ArrayBuffer[Long]()
      while (vals.length < 65000) { val v = rnd.nextInt(5).toLong; for (_ <- 0 until 100) vals += v }
      vals.take(65000).toArray
    }
    val size = compressedSize(out => IntCodec.encode(out, rle, rle.length, 8, 3))
    assert(size < 65000 * 8 / 50, s"RLE size $size too big")
  }

  // --- double schemes ---
  test("double one_value / dict / rle / freq") {
    roundTripDoubles(Array.fill(65000)(3.14))
    val rnd = new Random(9)
    val dict = Array.fill(255)(rnd.nextDouble() * 1e6)
    roundTripDoubles(Array.tabulate(65000)(i => dict(i % 255)))
    val runs = new scala.collection.mutable.ArrayBuffer[Double]()
    while (runs.length < 65000) { val v = rnd.nextDouble(); for (_ <- 0 until 80) runs += v }
    roundTripDoubles(runs.take(65000).toArray)
    roundTripDoubles(Array.tabulate(65000)(i => if (rnd.nextInt(100) < 93) 1.5 else rnd.nextDouble()))
  }

  test("double pseudodecimal (decimal-valued data)") {
    val rnd = new Random(10)
    val vals = Array.tabulate(65000) { _ =>
      val digits = rnd.nextInt(1000000)
      val e = rnd.nextInt(5)
      digits.toDouble / math.pow(10.0, e)
    }
    roundTripDoubles(vals)
    val size = compressedSize(out => DoubleCodec.encode(out, vals, vals.length, 3))
    assert(size < 65000 * 8 * 6 / 10, s"pseudodecimal size $size should beat raw")
  }

  test("double double_bp: bit-exact round-trip, opt-in gating, beats raw on int-valued data") {
    // registered-but-not-default, like the reference pool (SchemeType.hpp:49-53)
    assert(!BtrConfig.Default.doubleEnabled(DoubleCodec.DoubleBp))
    assert(BtrConfig.Default.copy(schemes = Set("doublebp"))
      .doubleEnabled(DoubleCodec.DoubleBp))
    def forcedRoundTrip(vals: Array[Double]): Int = {
      val out = new BufWriter()
      DoubleCodec.encodeForced(DoubleCodec.DoubleBp, out, vals, vals.length, 3)
      val decoded = DoubleCodec.decode(new BufReader(out.result()), vals.length)
      var i = 0
      while (i < vals.length) {
        assert(java.lang.Double.doubleToRawLongBits(decoded(i)) ==
          java.lang.Double.doubleToRawLongBits(vals(i)), s"bit mismatch at $i")
        i += 1
      }
      out.pos
    }
    val rnd = new Random(13)
    // integer-valued doubles: lo u32 plane is all zero, hi plane narrow
    val intish = Array.tabulate(65000)(i => (i % 4096).toDouble)
    val size = forcedRoundTrip(intish)
    assert(size < 65000 * 8 / 2, s"double_bp size $size should beat raw on int-valued data")
    // full-entropy + special payloads stay bit-exact (worst case ≈ raw)
    forcedRoundTrip(Array.tabulate(4096)(_ => rnd.nextDouble() * 1e18 - 5e17))
    forcedRoundTrip(Array(
      -0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000abcdefL),
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, java.lang.Double.MAX_VALUE))
    // ragged tail (non-multiple of the 256-value block)
    forcedRoundTrip(Array.tabulate(300)(i => i * 1.5))
  }

  test("double alp: bit-exact round-trips, opt-in gating, beats pseudodecimal's abort shapes") {
    // pool parity with the reference: registered but NOT default
    // (VERDICT r19 #4 — like DOUBLE_BP, until a corpus proves it in)
    assert(!BtrConfig.Default.doubleEnabled(DoubleCodec.Alp))
    assert(BtrConfig.Default.copy(schemes = Set("alp")).doubleEnabled(DoubleCodec.Alp))
    def forcedRoundTrip(vals: Array[Double]): Int = {
      val out = new BufWriter()
      DoubleCodec.encodeForced(DoubleCodec.Alp, out, vals, vals.length, 3)
      val decoded = DoubleCodec.decode(new BufReader(out.result()), vals.length)
      var i = 0
      while (i < vals.length) {
        assert(java.lang.Double.doubleToRawLongBits(decoded(i)) ==
          java.lang.Double.doubleToRawLongBits(vals(i)),
          s"bit mismatch at $i: ${vals(i)} vs ${decoded(i)}")
        i += 1
      }
      out.pos
    }
    val rnd = new Random(14)
    // the pseudodecimal ABORT shape (ref Pseudodecimal.cpp:113-119 +
    // the <=31-bit digit cap): high-magnitude two-decimal ledger values
    // whose digits (~1e13) overflow the 31-bit cap on every row — ALP's
    // 49-bit digits convert them all and must beat raw clearly
    val ledger = Array.tabulate(65000) { _ =>
      (1e13 + rnd.nextDouble() * 9e12).toLong / 100.0 // cents on ~1e11 currency units
    }
    val ledgerSize = forcedRoundTrip(ledger)
    assert(ledgerSize < 65000 * 8 * 8 / 10, s"alp ledger size $ledgerSize should beat raw by >20%")
    // trailing-zero integers need a NEGATIVE g (digits = v / 1000)
    val thousands = Array.tabulate(65000)(i => ((i * 37) % 100000).toDouble * 1000.0)
    val tzSize = forcedRoundTrip(thousands)
    assert(tzSize < 65000 * 8 / 2, s"alp trailing-zero size $tzSize should beat raw 2x")
    // mixed per-block precision exercises the per-block scale election
    forcedRoundTrip(Array.tabulate(8192) { i =>
      if ((i / 1024) % 2 == 0) rnd.nextInt(100000).toDouble / 100.0
      else rnd.nextInt(100000).toDouble * 1000.0
    })
    // specials and full-entropy values all fall to exceptions, bit-exact
    forcedRoundTrip(Array(
      -0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000abcdefL),
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, java.lang.Double.MAX_VALUE, -java.lang.Double.MAX_VALUE,
      1.0 / 3.0, 0.1, -0.1, 123.456))
    forcedRoundTrip(Array.fill(4096)(java.lang.Double.longBitsToDouble(rnd.nextLong())))
    // ragged tail (non-multiple of the 1024-value alp block)
    forcedRoundTrip(Array.tabulate(1300)(i => i / 100.0))
    // natural selection picks alp over the full default pool on the
    // ledger shape when opted in (not forced)
    val cfgAlp = BtrConfig.Default.copy(
      schemes = BtrConfig.doubleByName.keySet ++ BtrConfig.intByName.keySet ++
        BtrConfig.stringByName.keySet - "doublebp")
    val out = new BufWriter()
    DoubleCodec.encode(out, ledger, ledger.length, 3, cfgAlp)
    assert(out.result()(0) == DoubleCodec.Alp,
      s"natural selection should pick alp on the ledger shape, got scheme ${out.result()(0)}")
  }

  test("double specials: -0.0, NaN, infinities, subnormals") {
    val vals = Array(
      -0.0, 0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, java.lang.Double.MAX_VALUE, -java.lang.Double.MAX_VALUE,
      1.0 / 3.0, 0.1, -0.1, 123.456
    )
    roundTripDoubles(vals)
    // mostly-decimal with special patches
    val rnd = new Random(11)
    roundTripDoubles(Array.tabulate(10000) { i =>
      if (i % 100 == 0) -0.0 else if (i % 101 == 0) Double.NaN else rnd.nextInt(10000).toDouble / 100.0
    })
  }

  test("double random full entropy") {
    val rnd = new Random(12)
    roundTripDoubles(Array.fill(10000)(java.lang.Double.longBitsToDouble(rnd.nextLong())).map(d => d))
  }

  // --- string schemes ---
  private def s(str: String): Array[Byte] = str.getBytes("UTF-8")

  test("string one_value / dict / uncompressed") {
    roundTripStrings(Array.fill(65000)(s("constant")))
    val rnd = new Random(13)
    val dict = Array.fill(255)(s(rnd.alphanumeric.take(10).mkString))
    roundTripStrings(Array.tabulate(65000)(i => dict(i % 255)))
    roundTripStrings(Array.tabulate(5000)(i => s(rnd.alphanumeric.take(3 + rnd.nextInt(20)).mkString + i)))
  }

  test("string empty vs values, unicode") {
    roundTripStrings(Array(s(""), s("a"), s(""), s("日本語テキスト"), s("emoji 🎉"), s("")))
    roundTripStrings(Array.empty[Array[Byte]])
  }

  test("string dict compresses") {
    val rnd = new Random(14)
    val dict = Array.fill(64)(s("value_" + rnd.alphanumeric.take(30).mkString))
    val vals = Array.tabulate(65000)(i => dict(i % 64))
    val size = compressedSize(out => StringCodec.encode(out, vals, vals.length, 3))
    val raw = vals.map(_.length + 4).sum
    assert(size < raw / 10, s"dict size $size vs raw $raw")
  }

  // --- chunk-level with nulls ---
  test("chunk codec: int with nulls") {
    val rnd = new Random(15)
    val chunk = new ColumnChunk(PhysType.Int64, 65000)
    chunk.longs = Array.tabulate(65000)(i => if (rnd.nextInt(10) == 0) 0L else rnd.nextInt(1000).toLong)
    chunk.isNull = Array.tabulate(65000)(_ => rnd.nextInt(10) == 0)
    // placeholder at nulls
    for (i <- 0 until 65000) if (chunk.isNull(i)) chunk.longs(i) = 0L
    val out = new BufWriter()
    val stats = ChunkCodec.encode(out, chunk, 3)
    assert(stats.nullCount == chunk.isNull.count(identity))
    val dec = ChunkCodec.decode(new BufReader(out.result()), PhysType.Int64, 65000)
    for (i <- 0 until 65000) {
      assert(dec.isNull(i) == chunk.isNull(i))
      if (!dec.isNull(i)) assert(dec.longs(i) == chunk.longs(i))
    }
  }

  test("randomized property: arbitrary ints with arbitrary null masks round-trip") {
    val rnd = new Random(16)
    for (trial <- 0 until 20) {
      val n = 1 + rnd.nextInt(5000)
      val gen: Int => Long = rnd.nextInt(4) match {
        case 0 => _ => rnd.nextLong()
        case 1 => _ => rnd.nextInt(100).toLong
        case 2 => i => i.toLong * rnd.nextInt(3)
        case _ => _ => if (rnd.nextBoolean()) 5L else rnd.nextInt(1000000).toLong
      }
      roundTripInts(Array.tabulate(n)(gen), physWidth = 8, depth = rnd.nextInt(4))
    }
  }
}
