package graft.format

import scala.collection.mutable

/** Double-family per-chunk stats (distinct/top computed on raw bits so
  * -0.0 and NaN payloads are distinguished, matching the reference's
  * bit-exact round-trip contract). Same two-tier split as IntStats:
  * runCount is exact (the OneValue safety gate), the frequency-derived
  * stats come from a seeded stratified sample.
  */
final case class DoubleStats(
    count: Int,
    runCount: Int, // exact
    sampleN: Int,
    sDistinct: Int,
    distinctEst: Int,
    topBits: Long,
    sTopCount: Int,
    // sampled values retained for measured (sample-compress) scheme
    // selection, like IntStats.sample; null in full-stats mode
    sample: Array[Double] = null
) {
  def avgRunLength: Double = if (runCount == 0) 0.0 else count.toDouble / runCount
}

object DoubleStats {
  def compute(
      values: Array[Double],
      count: Int,
      seed: Long = 42L,
      sampleRuns: Int = 10,
      runLen: Int = 64
  ): DoubleStats = {
    if (count == 0) return DoubleStats(0, 0, 0, 0, 0, 0L, 0, null)
    // exact pass: runs only (adjacent bit compares, no hashing)
    var runs = 1
    var prev = java.lang.Double.doubleToRawLongBits(values(0))
    var i = 1
    while (i < count) {
      val bits = java.lang.Double.doubleToRawLongBits(values(i))
      if (bits != prev) runs += 1
      prev = bits
      i += 1
    }
    val ranges = SchemePicker.sampleRanges(count, sampleRuns, runLen, seed)
    val freq = new mutable.LongMap[Int](1 << 10)
    val sampleBuf = if (sampleRuns > 0) new Array[Double](SchemePicker.sampleSize(ranges)) else null
    var sampleN = 0
    var r = 0
    while (r < ranges.length) {
      var j = ranges(r)
      while (j < ranges(r + 1)) {
        val bits = java.lang.Double.doubleToRawLongBits(values(j))
        freq(bits) = freq.getOrElse(bits, 0) + 1
        if (sampleBuf != null) sampleBuf(sampleN) = values(j)
        sampleN += 1
        j += 1
      }
      r += 2
    }
    val f = SchemePicker.frequencies(freq, sampleN, count)
    DoubleStats(count, runs, sampleN, f.distinct, f.distinctEst, f.top, f.topCount, sampleBuf)
  }
}

/** Double codec mirroring the reference's double schemes
  * (/root/reference/btrblocks/scheme/SchemeType.hpp:35-53): Uncompressed,
  * OneValue, Dict, RLE, Frequency, Pseudodecimal. All round-trips are
  * bit-exact (incl. -0.0 and NaN payloads).
  */
object DoubleCodec {
  val Uncompressed = 0
  val OneValue = 1
  val Dict = 2
  val Rle = 3
  val Frequency = 4
  val Pseudodecimal = 5

  /** DOUBLE_BP (ref /root/reference/btrblocks/scheme/double/DoubleBP.cpp:16-57):
    * the raw IEEE754 words bit-packed as u32s. Like the reference pool it is
    * registered but NOT in the default scheme set
    * (scheme/SchemeType.hpp:49-53) — opt in via `btr.schemes=...,doublebp` or
    * `btr.forceScheme.double=doublebp` (the analog of the example config's
    * `schemes.enable(DOUBLE_BP)`, tools/examples/compression.cpp:47). Our
    * layout splits the hi/lo u32 planes and packs each in 256-value blocks
    * with a per-block width, which packs tighter than interleaved words when
    * sign/exponent bits are stable across a chunk.
    */
  val DoubleBp = 6

  /** ALP (public: Afroozeh & Boncz, "ALP: Adaptive Lossless floating-
    * Point compression", SIGMOD/VLDB 2023): probe a per-1024-value-block
    * decimal re-scale `g = e − f ∈ [−18, 18]`, store
    * `d = round(v · 10^g)` as integers through the int cascade
    * (FOR+bitpack inherits the small-digit structure), and patch the
    * values that do not round-trip `d · 10^−g` bit-exactly. Where the
    * Pseudodecimal port aborts past 50% exceptions with its ≤31-bit
    * digit cap (ref scheme/double/Pseudodecimal.cpp:113-119,
    * SchemeConfig.hpp:41), ALP's 49-bit digits and per-block adaptive
    * scale keep converting the real-world shapes that land there —
    * high-magnitude prices with fixed decimals, trailing-zero ledgers
    * (negative g), mixed-precision sensor streams. Losslessness is
    * verified value-by-value at encode with the decoder's own
    * multiply, so binary-rounding differences can never corrupt a
    * round-trip — they only cost an exception. Pool parity with the
    * reference: REGISTERED but not in the default scheme set (like
    * DOUBLE_BP) — opt in via `btr.schemes=...,alp` or
    * `btr.forceScheme.double=alp` until a corpus proves it.
    */
  val Alp = 7

  private val BpBlock = 256

  private val AlpBlock = 1024
  private val AlpMaxG = 18
  private val AlpMaxDigits = (1L << 49) - 1
  // 10^g up to 10^18 is exact in a double; the negative-g encode scale
  // rounds, which the encode-side verification absorbs
  private val alpPos: Array[Double] = (0 to AlpMaxG).map(g => math.pow(10.0, g)).toArray
  private val alpNeg: Array[Double] = (0 to AlpMaxG).map(g => 1.0 / math.pow(10.0, g)).toArray
  @inline private def alpScale(g: Int): Double = if (g >= 0) alpPos(g) else alpNeg(-g)

  /** Decode digit d at block scale g. DIVISION for positive g, not the
    * multiply-by-inverse shortcut: for true decimal data v = n/10^g the
    * correctly-rounded division d/10^g recovers v EXACTLY (measured: the
    * inverse multiply loses ~13% of two-decimal values to half-ulp
    * rounding and they would all become 9-byte exceptions). Negative g
    * multiplies by the exact integer power instead — d·10^|g| with both
    * factors < 2^53 is exact.
    */
  @inline private def alpDecode(d: Long, g: Int): Double =
    if (g >= 0) d.toDouble / alpPos(g) else d.toDouble * alpPos(-g)

  /** Digit for v at scale g, or Long.MinValue when v does not round-trip
    * (also rejects NaN/Inf via the range check and −0.0 via the bit
    * compare — all become exceptions). |d| < 2^49 so the sentinel can
    * never collide with a legitimate digit.
    */
  @inline private def alpTry(v: Double, g: Int): Long = {
    val scaled = v * alpScale(g)
    if (!(scaled >= -AlpMaxDigits.toDouble && scaled <= AlpMaxDigits.toDouble))
      return Long.MinValue
    val d = Math.round(scaled)
    if (java.lang.Double.doubleToRawLongBits(alpDecode(d, g)) ==
      java.lang.Double.doubleToRawLongBits(v)) d
    else Long.MinValue
  }

  /** Block scale election: probe ≤32 strided values over every g; most
    * exact conversions wins, ties to the most NEGATIVE g (smallest
    * digits → narrowest bitpack — ascending scan keeps the first max).
    */
  private def alpPickG(values: Array[Double], start: Int, n: Int): Int = {
    val stride = math.max(1, n / 32)
    var bestG = 0
    var bestHits = -1
    var g = -AlpMaxG
    while (g <= AlpMaxG) {
      var hits = 0
      var i = start
      val end = start + n
      while (i < end) {
        if (alpTry(values(i), g) != Long.MinValue) hits += 1
        i += stride
      }
      if (hits > bestHits) { bestHits = hits; bestG = g }
      g += 1
    }
    bestG
  }

  /** Exponent stream value marking a patched (non-convertible) double
    * (reference uses an exception marker too,
    * /root/reference/btrblocks/scheme/double/Pseudodecimal.cpp:107-123).
    */
  private val PatchMarker = 23L
  private val MaxExponent = 22
  private val MaxDigits = (1L << 31) - 1 // ≤31 significant bits (SchemeConfig.hpp:41)

  private val pow10: Array[Double] = (0 to MaxExponent).map(e => math.pow(10.0, e)).toArray

  // per-thread (digits, exps) scratch for the Pseudodecimal decoder
  private val pdScratchTl = new ThreadLocal[Array[Array[Long]]] {
    override def initialValue(): Array[Array[Long]] = Array(null, null)
  }
  private def pdScratch(slot: Int, count: Int): Array[Long] = {
    val s = pdScratchTl.get()
    if (s(slot) == null || s(slot).length < count) s(slot) = new Array[Long](count)
    s(slot)
  }

  /** Try to express d as digits/10^e with bit-exact round-trip.
    * Returns packed (e << 32 | digitsIndexBias) or -1; digits via out param
    * pattern avoided: returns Long with e in high bits, digits value must be
    * re-derived — instead we return both through a tiny struct-free encoding:
    * result = e*2^40 + (digits + 2^31) won't fit cleanly, so we use a
    * two-array fill in the encoder directly.
    */
  @inline private def tryConvert(d: Double, outDigits: Array[Long], outExp: Array[Long], i: Int): Boolean = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    var e = 0
    while (e <= MaxExponent) {
      val scaled = d * pow10(e)
      if (scaled >= -MaxDigits.toDouble && scaled <= MaxDigits.toDouble) {
        val digits = Math.round(scaled)
        if (java.lang.Double.doubleToRawLongBits(digits.toDouble / pow10(e)) == bits) {
          outDigits(i) = digits
          outExp(i) = e.toLong
          return true
        }
      } else if (scaled > MaxDigits.toDouble || scaled < -MaxDigits.toDouble) {
        // growing further only overflows
        return false
      }
      e += 1
    }
    false
  }

  /** Encode `count` values; writes [u8 scheme][payload], the scheme picked
    * by [[SchemePicker.encode]].
    */
  def encode(
      out: BufWriter,
      values: Array[Double],
      count: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encode(new Chunk(values, count, cfg, seed), out, depth)

  /** Forced top-level scheme; validates data-loss safety first. */
  def encodeForced(
      scheme: Int,
      out: BufWriter,
      values: Array[Double],
      count: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encodeForced(new Chunk(values, count, cfg, seed), scheme, out, depth)

  /** Dict-aware measured estimate (see IntCodec.measuredDictEstimate):
    * the raw 8-byte dictionary table scales with NDV, not rows, so only
    * the code stream is measured on the sample and extrapolated by the
    * row ratio (width-adjusted for the full-chunk dictionary).
    */
  private def measuredDictEstimate(s: DoubleStats, depth: Int, cfg: BtrConfig): Long = {
    if (depth < 1) return Long.MaxValue
    val smp = s.sample
    val n = s.sampleN
    val bits = new Array[Long](n)
    var i = 0
    while (i < n) { bits(i) = java.lang.Double.doubleToRawLongBits(smp(i)); i += 1 }
    val built = DictBuild.longs(bits, n, s.sDistinct)
    val dict = built.entries
    if (dict.length < 1 || dict.length >= n) return Long.MaxValue
    val cScratch = new BufWriter(1 << 10)
    IntCodec.encode(cScratch, built.codes, n, 8, depth - 1, cfg.copy(measuredEstimate = false), 43L)
    val dFull = math.max(dict.length, math.min(s.distinctEst, s.count))
    val widthRatio =
      math.max(1, Bitpack.bitsFor(math.max(1L, dFull - 1L))).toDouble /
        math.max(1, Bitpack.bitsFor(math.max(1L, dict.length - 1L)))
    val codeBytes =
      math.ceil(cScratch.pos.toDouble * s.count / math.max(1, n) * widthRatio).toLong
    1L + 4L + 8L * dFull + codeBytes
  }

  private val AllSchemes =
    Array(OneValue, Dict, Rle, Frequency, Pseudodecimal, DoubleBp, Alp, Uncompressed)

  /** `values` as one chunk for [[SchemePicker]]. */
  private[format] final class Chunk(values: Array[Double], count: Int, cfg: BtrConfig, seed: Long)
      extends SchemeChunk(count, cfg, seed) {
    val s: DoubleStats = DoubleStats.compute(values, count, seed, cfg.sampleRuns, cfg.sampleRunLen)
    private var built: DictBuild.Longs = null
    /** The dictionary of the chunk's raw bits, built on first use. */
    def dict: DictBuild.Longs = {
      if (built == null) {
        val bits = new Array[Long](count)
        var i = 0
        while (i < count) { bits(i) = java.lang.Double.doubleToRawLongBits(values(i)); i += 1 }
        built = DictBuild.longs(bits, count, s.distinctEst)
      }
      built
    }
    /** The dictionary if an encode has built it, else null. */
    def builtDict: DictBuild.Longs = built
    def runCount: Int = s.runCount
    def names: Map[Int, String] = BtrConfig.doubleNames
    def forced: Option[Int] = cfg.forceDouble
    def candidates: Array[Int] = AllSchemes
    def enabled(scheme: Int): Boolean = cfg.doubleEnabled(scheme)
    def structurallyValid(scheme: Int, depth: Int): Boolean = scheme match {
      case OneValue => s.runCount <= 1
      case Uncompressed => true
      case DoubleBp => s.count >= 1 // terminal scheme, no cascade
      case Dict | Rle | Frequency | Pseudodecimal | Alp => depth >= 1 && s.count >= 1
      case _ => false
    }
    def rawBound: Long = 1 + count.toLong * 8
    def encodeAs(scheme: Int, out: BufWriter, depth: Int, cfg: BtrConfig, seed: Long): Unit =
      DoubleCodec.encodeAs(scheme, out, values, count, depth, s, dict, cfg, seed)
    def screen(depth: Int, est: Array[Long]): Int = DoubleCodec.screen(values, count, s, depth, cfg, est)
    override def sampleN: Int = s.sampleN
    override def sTopCount: Int = s.sTopCount
    override def hasSample: Boolean = s.sample != null
    override def escalates: Boolean = true
    // every screen but the constant and raw ones cascades
    override def approx(scheme: Int): Boolean = scheme != Uncompressed && scheme != OneValue
    override lazy val sampleChunk: SchemeChunk = new Chunk(s.sample, s.sampleN, cfg, 42L)
    override def measureDict(depth: Int): Long = measuredDictEstimate(s, depth, cfg)
  }

  /** Closed-form screens of a non-constant chunk (see
    * [[SchemeChunk.screen]]); the close contenders get measured.
    */
  private def screen(
      values: Array[Double],
      count: Int,
      s: DoubleStats,
      depth: Int,
      cfg: BtrConfig,
      fEst: Array[Long]
  ): Int = {
    var best = Uncompressed
    var bestSize = 1L + count.toLong * 8
    fEst(Uncompressed) = bestSize
    // gate matches the int side: the corrected NDV estimate self-prices
    // dict out of near-unique chunks (table = 8 B × NDV), so the old
    // hard half-distinct sample gate — which excluded dict on scattered
    // double spaces the way the int side excluded product_id — is gone
    if (depth >= 1 && cfg.doubleEnabled(Dict) && s.distinctEst < s.count) {
      val codeBits = math.max(1, Bitpack.bitsFor((s.distinctEst - 1).toLong))
      val e = 8L + s.distinctEst.toLong * 8 + Bitpack.packedBytes(count, codeBits)
      fEst(Dict) = e
      if (e < bestSize) { best = Dict; bestSize = e }
    }
    if (depth >= 1 && cfg.doubleEnabled(Rle) && s.avgRunLength >= 2.0) {
      val e = 8L + s.runCount.toLong * 9 + 16
      fEst(Rle) = e
      if (e < bestSize) { best = Rle; bestSize = e }
    }
    // sampled top-share gate at 90% − 2σ of THIS sample size (87% at the
    // default 640 values; see IntStats.sampledFreqGate)
    if (depth >= 1 && cfg.doubleEnabled(Frequency) && s.sDistinct * 2 <= s.sampleN &&
      s.sTopCount >= s.sampleN * IntStats.sampledFreqGate(s.sampleN, count)) {
      val exc = math.round(count.toLong * (s.sampleN - s.sTopCount).toDouble / math.max(1, s.sampleN))
      val e = 16L + exc * 11 + 16
      fEst(Frequency) = e
      if (e < bestSize) { best = Frequency; bestSize = e }
    }
    if (depth >= 1 && cfg.doubleEnabled(Pseudodecimal)) {
      // sample-estimate pseudodecimal: check convertibility + digit width on a stride sample
      val sampleStride = math.max(1, count / 1024)
      val dTmp = new Array[Long](1)
      val eTmp = new Array[Long](1)
      var convertible = 0
      var sampled = 0
      var maxDigits = 0L
      var i = 0
      while (i < count) {
        sampled += 1
        if (tryConvert(values(i), dTmp, eTmp, 0)) {
          convertible += 1
          val a = math.abs(dTmp(0))
          if (a > maxDigits) maxDigits = a
        }
        i += sampleStride
      }
      if (convertible * 2 >= sampled) {
        val digitBits = Bitpack.bitsFor(2 * maxDigits + 1) // zigzag
        val patches = count.toLong * (sampled - convertible) / math.max(1, sampled)
        val e = 8L + Bitpack.packedBytes(count, digitBits) + count / 2 + patches * 8
        fEst(Pseudodecimal) = e
        if (e < bestSize) { best = Pseudodecimal; bestSize = e }
      }
    }
    if (depth >= 1 && cfg.doubleEnabled(Alp)) {
      // opt-in ALP: probe the scale on a strided sample and gate on the
      // same >=50% convertibility the pseudodecimal gate uses; the
      // formula prices a GLOBAL g (per-block adaptivity at encode only
      // packs tighter) and the measure pass refines it
      val sampleStride = math.max(1, count / 1024)
      val m = math.min(1024, count)
      val buf = new Array[Double](m)
      var i = 0
      var j = 0
      while (j < m && i < count) { buf(j) = values(i); j += 1; i += sampleStride }
      val g = alpPickG(buf, 0, j)
      var conv = 0
      var maxD = 0L
      i = 0
      while (i < j) {
        val d = alpTry(buf(i), g)
        if (d != Long.MinValue) {
          conv += 1
          val a = math.abs(d)
          if (a > maxD) maxD = a
        }
        i += 1
      }
      if (conv * 2 >= j && j > 0) {
        val digitBits = Bitpack.bitsFor(2 * maxD + 1) // zigzag
        val patches = count.toLong * (j - conv) / math.max(1, j)
        val e = 1L + (count + AlpBlock - 1) / AlpBlock +
          Bitpack.packedBytes(count, digitBits) + patches * 9 + 8
        fEst(Alp) = e
        if (e < bestSize) { best = Alp; bestSize = e }
      }
    }
    if (cfg.doubleEnabled(DoubleBp)) {
      // formula screen over the retained sample: global max hi/lo widths
      // (per-block widths at encode only pack tighter than this bound)
      val smp = s.sample
      var wLo = 0
      var wHi = 0
      if (smp != null && s.sampleN > 0) {
        var i = 0
        while (i < s.sampleN) {
          val b = java.lang.Double.doubleToRawLongBits(smp(i))
          val bl = Bitpack.bitsFor(b & 0xFFFFFFFFL)
          val bh = Bitpack.bitsFor(b >>> 32)
          if (bl > wLo) wLo = bl
          if (bh > wHi) wHi = bh
          i += 1
        }
      } else { wLo = 32; wHi = 32 }
      val blocks = (count + BpBlock - 1) / BpBlock
      val e = 1L + 2L * blocks +
        Bitpack.packedBytes(count, wLo).toLong + Bitpack.packedBytes(count, wHi).toLong
      fEst(DoubleBp) = e
      if (e < bestSize) { best = DoubleBp; bestSize = e }
    }
    best
  }

  private def encodeAs(
      scheme: Int,
      out: BufWriter,
      values: Array[Double],
      count: Int,
      depth: Int,
      s: DoubleStats,
      dictionary: => DictBuild.Longs,
      cfg: BtrConfig,
      seed: Long
  ): Unit = {
    val sub = seed * 6364136223846793005L + 1442695040888963407L
    out.putByte(scheme)
    scheme match {
      case Uncompressed =>
        var i = 0
        while (i < count) { out.putDouble(values(i)); i += 1 }
      case OneValue => out.putDouble(if (count > 0) values(0) else 0.0)
      case Dict =>
        val dict = dictionary
        out.putInt(dict.entries.length)
        out.putLongs(dict.entries, dict.entries.length)
        IntCodec.encode(out, dict.codes, count, 8, depth - 1, cfg, sub)
      case Rle =>
        val bits = new Array[Long](count)
        var i = 0
        while (i < count) { bits(i) = java.lang.Double.doubleToRawLongBits(values(i)); i += 1 }
        val (runVals, runLens, nRuns) = IntCodec.runs(bits, count)
        out.putInt(nRuns)
        var r = 0
        while (r < nRuns) { out.putLong(runVals(r)); r += 1 }
        IntCodec.encode(out, runLens, nRuns, 8, depth - 1, cfg, sub)
      case Frequency =>
        val top = s.topBits
        var nExc = 0
        var i = 0
        while (i < count) {
          if (java.lang.Double.doubleToRawLongBits(values(i)) != top) nExc += 1
          i += 1
        }
        out.putLong(top)
        out.putInt(nExc)
        val pos = new Array[Long](nExc)
        val exc = new Array[Long](nExc)
        var p = 0
        i = 0
        while (i < count) {
          val b = java.lang.Double.doubleToRawLongBits(values(i))
          if (b != top) { pos(p) = i.toLong; exc(p) = b; p += 1 }
          i += 1
        }
        IntCodec.encode(out, pos, nExc, 8, depth - 1, cfg, sub)
        IntCodec.encode(out, exc, nExc, 8, depth - 1, cfg, sub + 1)
      case DoubleBp =>
        // raw IEEE754 words as two u32 planes (lo, hi), each packed in
        // 256-value blocks with a per-block width byte
        val lo = new Array[Long](count)
        val hi = new Array[Long](count)
        var i = 0
        while (i < count) {
          val b = java.lang.Double.doubleToRawLongBits(values(i))
          lo(i) = b & 0xFFFFFFFFL
          hi(i) = b >>> 32
          i += 1
        }
        packU32Blocks(out, lo, count)
        packU32Blocks(out, hi, count)
      case Pseudodecimal =>
        val digits = new Array[Long](count)
        val exps = new Array[Long](count)
        val patchIdx = new mutable.ArrayBuilder.ofLong
        val patchVal = new mutable.ArrayBuilder.ofDouble
        var i = 0
        while (i < count) {
          if (!tryConvert(values(i), digits, exps, i)) {
            digits(i) = 0L
            exps(i) = PatchMarker
            patchIdx += i.toLong
            patchVal += values(i)
          }
          i += 1
        }
        // zigzag digits so FOR/bitpack sees small unsigned values
        i = 0
        while (i < count) { digits(i) = (digits(i) << 1) ^ (digits(i) >> 63); i += 1 }
        IntCodec.encode(out, digits, count, 8, depth - 1, cfg, sub)
        IntCodec.encode(out, exps, count, 8, depth - 1, cfg, sub + 1)
        val pv = patchVal.result()
        out.putInt(pv.length)
        var p = 0
        while (p < pv.length) { out.putDouble(pv(p)); p += 1 }
      case Alp =>
        val nBlocks = (count + AlpBlock - 1) / AlpBlock
        val digits = new Array[Long](count)
        val patchIdx = new mutable.ArrayBuilder.ofLong
        val patchVal = new mutable.ArrayBuilder.ofDouble
        var b = 0
        while (b < nBlocks) {
          val start = b * AlpBlock
          val n = math.min(AlpBlock, count - start)
          val g = alpPickG(values, start, n)
          out.putByte(g + AlpMaxG)
          var i = start
          val end = start + n
          while (i < end) {
            val d = alpTry(values(i), g)
            if (d == Long.MinValue) {
              digits(i) = 0L
              patchIdx += i.toLong
              patchVal += values(i)
            } else digits(i) = d
            i += 1
          }
          b += 1
        }
        // zigzag so the int cascade's FOR/bitpack sees small unsigned values
        var i = 0
        while (i < count) { digits(i) = (digits(i) << 1) ^ (digits(i) >> 63); i += 1 }
        IntCodec.encode(out, digits, count, 8, depth - 1, cfg, sub)
        val pi = patchIdx.result()
        val pv2 = patchVal.result()
        out.putInt(pv2.length)
        IntCodec.encode(out, pi, pv2.length, 8, depth - 1, cfg, sub + 1)
        var p = 0
        while (p < pv2.length) { out.putDouble(pv2(p)); p += 1 }
    }
  }

  /** Pack a u32 plane in [[BpBlock]]-value blocks, one width byte per
    * block. Values must already be masked to 32 bits.
    */
  private def packU32Blocks(out: BufWriter, vals: Array[Long], count: Int): Unit = {
    val scratch = new Array[Long](BpBlock)
    var base = 0
    while (base < count) {
      val n = math.min(BpBlock, count - base)
      var w = 0
      var i = 0
      while (i < n) {
        val b = Bitpack.bitsFor(vals(base + i))
        if (b > w) w = b
        i += 1
      }
      out.putByte(w)
      System.arraycopy(vals, base, scratch, 0, n)
      Bitpack.pack(scratch, n, w, out)
      base += n
    }
  }

  private def unpackU32Blocks(in: BufReader, count: Int): Array[Long] = {
    val out = new Array[Long](count)
    val scratch = new Array[Long](BpBlock)
    var base = 0
    while (base < count) {
      val n = math.min(BpBlock, count - base)
      val w = in.getByte()
      Bitpack.unpack(in, n, w, scratch)
      System.arraycopy(scratch, 0, out, base, n)
      base += n
    }
    out
  }

  def decode(in: BufReader, count: Int): Array[Double] = {
    val out = new Array[Double](count)
    decodeInto(in, count, out)
    out
  }

  /** Top-level DICT chunk as (raw-bits entries, codes) — same lazy
    * dictionary contract as [[IntCodec.decodeDictView]]; entries stay as
    * the stored long bits (the vector dictionary converts on access).
    * Returns null (with `in` unadvanced) for every other scheme. The
    * codes land in `codesOut` when given.
    */
  def decodeDictView(in: BufReader, count: Int, codesOut: Array[Long] = null): IntCodec.DictView = {
    val probe = in.duplicate()
    if (probe.getByte() != Dict) return null
    val dictSize = probe.getInt()
    val bits = probe.getLongs(dictSize)
    val codes = if (codesOut != null) codesOut else new Array[Long](count)
    IntCodec.decodeInto(probe, count, codes)
    new IntCodec.DictView(bits, codes)
  }

  def decodeInto(in: BufReader, count: Int, out: Array[Double]): Unit = {
    in.getByte() match {
      case Uncompressed =>
        var i = 0
        while (i < count) { out(i) = in.getDouble(); i += 1 }
      case OneValue =>
        val v = in.getDouble()
        java.util.Arrays.fill(out, 0, count, v)
      case Dict =>
        val dictSize = in.getInt()
        val dict = in.getLongs(dictSize)
        val codes = IntCodec.decode(in, count)
        var i = 0
        while (i < count) {
          out(i) = java.lang.Double.longBitsToDouble(dict(codes(i).toInt))
          i += 1
        }
      case Rle =>
        val nRuns = in.getInt()
        val runVals = in.getLongs(nRuns)
        val runLens = IntCodec.decode(in, nRuns)
        var p = 0
        var r = 0
        while (r < nRuns) {
          val v = java.lang.Double.longBitsToDouble(runVals(r))
          val len = runLens(r).toInt
          java.util.Arrays.fill(out, p, p + len, v)
          p += len
          r += 1
        }
      case Frequency =>
        val top = java.lang.Double.longBitsToDouble(in.getLong())
        val nExc = in.getInt()
        val pos = IntCodec.decode(in, nExc)
        val exc = IntCodec.decode(in, nExc)
        java.util.Arrays.fill(out, 0, count, top)
        var i = 0
        while (i < nExc) {
          out(pos(i).toInt) = java.lang.Double.longBitsToDouble(exc(i))
          i += 1
        }
      case DoubleBp =>
        val lo = unpackU32Blocks(in, count)
        val hi = unpackU32Blocks(in, count)
        var i = 0
        while (i < count) {
          out(i) = java.lang.Double.longBitsToDouble((hi(i) << 32) | lo(i))
          i += 1
        }
      case Pseudodecimal =>
        // scratch reuse: the digits/exps sub-decodes are INT schemes and
        // can never nest another Pseudodecimal on this thread, so two
        // thread-local buffers drop ~1 MB of allocation+zeroing per
        // 65,536-value chunk from the hot decode path (KernelBench)
        val digits = pdScratch(0, count)
        IntCodec.decodeInto(in, count, digits)
        val exps = pdScratch(1, count)
        IntCodec.decodeInto(in, count, exps)
        val nPatch = in.getInt()
        val patches = new Array[Double](nPatch)
        var p = 0
        while (p < nPatch) { patches(p) = in.getDouble(); p += 1 }
        p = 0
        var i = 0
        while (i < count) {
          val e = exps(i).toInt
          if (e == PatchMarker.toInt) {
            out(i) = patches(p)
            p += 1
          } else {
            val z = digits(i)
            val d = (z >>> 1) ^ -(z & 1L) // un-zigzag
            out(i) = d.toDouble / pow10(e)
          }
          i += 1
        }
      case Alp =>
        val nBlocks = (count + AlpBlock - 1) / AlpBlock
        val gs = new Array[Int](nBlocks)
        var b = 0
        while (b < nBlocks) { gs(b) = in.getByte() - AlpMaxG; b += 1 }
        // scratch reuse: the digit sub-decode is an INT stream and can
        // never nest another double scheme on this thread (same argument
        // as the Pseudodecimal scratch above)
        val digits = pdScratch(0, count)
        IntCodec.decodeInto(in, count, digits)
        var i = 0
        b = 0
        while (b < nBlocks) {
          val g = gs(b)
          val end = math.min(count, (b + 1) * AlpBlock)
          if (g >= 0) {
            val scale = alpPos(g)
            while (i < end) {
              val z = digits(i)
              out(i) = ((z >>> 1) ^ -(z & 1L)).toDouble / scale // un-zigzag
              i += 1
            }
          } else {
            val scale = alpPos(-g)
            while (i < end) {
              val z = digits(i)
              out(i) = ((z >>> 1) ^ -(z & 1L)).toDouble * scale
              i += 1
            }
          }
          b += 1
        }
        val nPatch = in.getInt()
        val pos = IntCodec.decode(in, nPatch)
        var p = 0
        while (p < nPatch) { out(pos(p).toInt) = in.getDouble(); p += 1 }
      case other => throw new IllegalStateException(s"bad double scheme $other")
    }
  }
}
