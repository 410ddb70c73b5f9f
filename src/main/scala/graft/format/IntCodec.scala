package graft.format

import scala.collection.mutable

/** Per-chunk statistics for the integer family, mirroring
  * NumberStats (/root/reference/btrblocks/stats/NumberStats.hpp:78-130).
  *
  * Split into two tiers:
  *  - EXACT (one cheap branch-free pass, no hashing): count, min, max,
  *    runCount, isSorted. Encoders depend on these for correctness
  *    (FOR rebase, OneValue gate, delta sortedness), so they are never
  *    sampled.
  *  - SAMPLED (stratified runs, ref stats/NumberStats.hpp:34-76): the
  *    frequency-derived stats — distinct estimate, top value, FOR-width
  *    histogram — that only steer scheme SELECTION. Sampling replaces the
  *    former per-value LongMap over every 65,536-row chunk, the write
  *    path's dominant stats cost at scale.
  *
  * A root chunk (`withSum`) also sums its values in the exact pass for
  * the footer: null rows hold the placeholder 0, so they add nothing.
  */
final case class IntStats(
    count: Int,
    min: Long,
    max: Long,
    runCount: Int,
    isSorted: Boolean,
    sampleN: Int, // values sampled (== count when exhaustive)
    sDistinct: Int, // distinct within the sample
    distinctEst: Int, // heavy/rare NDV estimate (SchemePicker.frequencies), capped at count
    topValue: Long, // most frequent value in the sample
    sTopCount: Int, // its in-sample frequency
    widthHist: Array[Int], // FOR-width histogram over the sample
    // the sampled values themselves (== the whole chunk when exhaustive),
    // retained so scheme selection can MEASURE a candidate by compressing
    // the sample instead of trusting a closed-form estimate (the
    // reference's estimateCompression contract,
    // /root/reference/btrblocks/scheme/CompressionScheme.cpp:8-46); null
    // in full-stats mode (sampleRuns == 0), where selection stays formula
    sample: Array[Long] = null,
    // wrapped sum of every value and whether it wrapped (root chunks only)
    sum: Long = 0L,
    sumOverflow: Boolean = false
) {
  def avgRunLength: Double = if (runCount == 0) 0.0 else count.toDouble / runCount

  /** Full-chunk / sample scale factor for extrapolating sampled counts. */
  def scale: Double = if (sampleN == 0) 1.0 else count.toDouble / sampleN
}

object IntStats {

  /** Sampled Frequency-eligibility threshold: the 90% population
    * top-1 occurrence gate (ref scheme/templated/Frequency.hpp:42,
    * `occurence_count * 100 / tuple_count >= 90`) minus TWO binomial
    * standard errors of THIS sample size — 2·sqrt(p(1−p)/n) at p=0.9 —
    * so a boundary stream's eligibility is not coin-flipped by sampling
    * noise. Derived from the actual n (not hardcoded to the default
    * 640-value sample's ≈87.6%), so a config that raises sampleRuns/runLen
    * keeps exactly the margin its σ warrants instead of admitting more
    * false-eligibles than intended. An exhaustive "sample"
    * (sampleN >= count) has zero sampling error and gets the full
    * population gate. The margin only admits candidates into the size
    * race — the encoder recounts exceptions exactly either way.
    */
  def sampledFreqGate(sampleN: Int, count: Int): Double = {
    val p = 0.90
    if (sampleN >= count || sampleN <= 0) p
    else p - 2.0 * math.sqrt(p * (1.0 - p) / sampleN)
  }

  def compute(
      values: Array[Long],
      count: Int,
      seed: Long = 42L,
      sampleRuns: Int = 10,
      runLen: Int = 64,
      withSum: Boolean = false
  ): IntStats = {
    if (count == 0)
      return IntStats(0, 0L, 0L, 0, isSorted = true, 0, 0, 0, 0L, 0, new Array[Int](65), null)
    // exact pass: min/max/runs/sortedness (no hashing), and the sum
    var min = values(0)
    var max = values(0)
    var runs = 1
    var sorted = true
    var sum = if (withSum) values(0) else 0L
    var sumOver = false
    var i = 1
    while (i < count) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      if (v != values(i - 1)) runs += 1
      if (v < values(i - 1)) sorted = false
      if (withSum) {
        val ns = sum + v
        if (((sum ^ ns) & (v ^ ns)) < 0) sumOver = true // signed wrap
        sum = ns
      }
      i += 1
    }
    // sampled pass: frequency map over the stratified sample (the whole
    // chunk when it is small)
    val ranges = SchemePicker.sampleRanges(count, sampleRuns, runLen, seed)
    val freq = new mutable.LongMap[Int](1 << 10)
    val hist = new Array[Int](65)
    val sampleBuf = if (sampleRuns > 0) new Array[Long](SchemePicker.sampleSize(ranges)) else null
    var sampleN = 0
    var r = 0
    while (r < ranges.length) {
      var j = ranges(r)
      while (j < ranges(r + 1)) {
        val v = values(j)
        freq(v) = freq.getOrElse(v, 0) + 1
        hist(Bitpack.bitsForRange(0L, v - min)) += 1
        if (sampleBuf != null) sampleBuf(sampleN) = v
        sampleN += 1
        j += 1
      }
      r += 2
    }
    val f = SchemePicker.frequencies(freq, sampleN, count)
    IntStats(count, min, max, runs, sorted, sampleN, f.distinct, f.distinctEst, f.top, f.topCount,
      hist, sampleBuf, sum, sumOver)
  }
}

/** Integer-family codec: all schemes over dense Array[Long] values
  * (covers Spark int/long/date/timestamp/bool columns; the narrower
  * physical width only affects the UNCOMPRESSED payload).
  *
  * Scheme set mirrors the reference's integer schemes
  * (/root/reference/btrblocks/scheme/SchemeType.hpp:12-33): Uncompressed,
  * OneValue, Dict, RLE, FOR+bitpack (subsumes BP/FOR/Truncation), sorted
  * Delta+bitpack (PFOR_DELTA analog), Frequency. Selection is
  * stats-driven greedy with a cascade budget and an anti-regression
  * guard (/root/reference/btrblocks/compression/SchemePicker.hpp:34-68,
  * 118-129, 181-190).
  */
object IntCodec {
  // scheme ids (wire format)
  val Uncompressed = 0
  val OneValue = 1
  val Dict = 2
  val Rle = 3
  val ForBp = 4
  val DeltaBp = 5
  val Frequency = 6
  val Pfor = 7

  /** Patched-FOR plan: the (width, estExceptions, estBytes) minimizing
    * total size over the sampled bit-width histogram — outliers beyond
    * `width` bits become patches (the functional analog of FastPFor's
    * per-block exception patching,
    * /root/reference/btrblocks/scheme/integer/PBP.cpp:18-56). Exception
    * counts are extrapolated from the sample; the encoder recounts them
    * exactly.
    */
  private def pforPlan(s: IntStats): (Int, Int, Long) = {
    val full = Bitpack.bitsForRange(s.min, s.max)
    val posBits = Bitpack.bitsFor(math.max(0L, (s.count - 1).toLong))
    var bestW = full
    var bestExc = 0
    var best = Long.MaxValue
    var cum = 0
    var w = 0
    while (w < full) {
      cum += s.widthHist(w)
      val exc = math.round((s.sampleN - cum) * s.scale).toInt
      val size = 2L + 9 + Bitpack.packedBytes(s.count, w) + 4 +
        exc.toLong * (posBits + full) / 8 + 24
      if (size < best) { best = size; bestW = w; bestExc = exc }
      w += 1
    }
    (bestW, bestExc, best)
  }

  /** Dict-aware measured estimate. A plain sample-compress extrapolates
    * ALL bytes by the row ratio, but a dictionary table is sublinear in
    * rows — it scales with NDV — so on scattered id spaces (sample NDV ≈
    * sample size, chunk NDV ≪ chunk size) the generic measurement
    * overestimates dict by the row/NDV ratio and dict loses races it
    * should win. Split the measurement: the table extrapolates by the
    * NDV ratio (per-entry cascade cost observed on the sample's sorted
    * dict), the code stream by the row ratio with a code-width
    * adjustment for the wider full-chunk dictionary.
    */
  private def measuredDictEstimate(s: IntStats, depth: Int, cfg: BtrConfig): Long = {
    if (depth < 1) return Long.MaxValue
    val smp = s.sample
    val n = s.sampleN
    val built = DictBuild.longs(smp, n, s.sDistinct)
    val dict = built.entries
    if (dict.length < 1 || dict.length >= n) return Long.MaxValue
    val sub = cfg.copy(measuredEstimate = false)
    val tScratch = new BufWriter(1 << 10)
    encode(tScratch, dict, dict.length, 8, depth - 1, sub, 42L)
    val cScratch = new BufWriter(1 << 10)
    encode(cScratch, built.codes, n, 8, depth - 1, sub, 43L)
    val dFull = math.max(dict.length, math.min(s.distinctEst, s.count))
    val widthRatio =
      math.max(1, Bitpack.bitsFor(math.max(1L, dFull - 1L))).toDouble /
        math.max(1, Bitpack.bitsFor(math.max(1L, dict.length - 1L)))
    val table = math.ceil((4L + tScratch.pos).toDouble * dFull / dict.length).toLong
    val codeBytes =
      math.ceil(cScratch.pos.toDouble * s.count / math.max(1, n) * widthRatio).toLong
    1L + table + codeBytes
  }

  /** Schemes whose closed-form estimate is approximate (cascade sizes are
    * guessed) and therefore worth measuring when the race is close. The
    * others (Uncompressed/OneValue/ForBp/DeltaBp) have exact formulas.
    */
  @inline private def isApprox(scheme: Int): Boolean = scheme match {
    case Dict | Rle | Frequency | Pfor => true
    case _ => false
  }

  /** Closed-form size estimates (bytes) per candidate: exact stats where
    * the encoder needs them anyway (min/max/runs), sampled proportions for
    * the frequency-derived ones. For the cascading schemes these closed
    * forms act as the SCREEN; [[SchemePicker]] measures the close
    * contenders.
    */
  private def formulaEstimate(scheme: Int, s: IntStats, physWidth: Int, depth: Int): Long = {
    val n = s.count.toLong
    scheme match {
      case Uncompressed => 2 + n * physWidth
      case OneValue => if (s.runCount <= 1) 10L else Long.MaxValue
      case ForBp => 2 + 9 + Bitpack.packedBytes(s.count, Bitpack.bitsForRange(s.min, s.max)) + 2
      case DeltaBp =>
        if (!s.isSorted || s.count < 2 || depth < 1) Long.MaxValue
        // delta width unknown without a pass; assume range/distinct spread
        else 2 + 17 + n * math.max(1, Bitpack.bitsForRange(s.min, s.max) - Bitpack.bitsFor(n)) / 8
      case Dict =>
        if (depth < 1 || s.distinctEst >= s.count) Long.MaxValue
        else {
          val codeBits = math.max(1, Bitpack.bitsFor((s.distinctEst - 1).toLong))
          val dictBytes = s.distinctEst.toLong * math.min(8, physWidth) // dict re-encoded; upper bound
          2 + 8 + dictBytes + Bitpack.packedBytes(s.count, codeBits)
        }
      case Rle =>
        if (depth < 1 || s.avgRunLength < 2.0) Long.MaxValue
        else {
          val r = s.runCount.toLong
          val valBits = Bitpack.bitsForRange(s.min, s.max)
          val lenBits = Bitpack.bitsFor(s.count.toLong)
          2 + 8 + r * valBits / 8 + r * lenBits / 8 + 24
        }
      case Frequency =>
        // gates per SchemeConfig.hpp:17 + Frequency.hpp:42-46, evaluated
        // as sample proportions. The top-share gate is 90% of the
        // POPULATION; a 640-value sample of a 90.1%-constant stream reads
        // below 90% almost half the time (σ ≈ 1.2%), coin-flipping
        // eligibility on streams sitting at the boundary (price's
        // exponent cascade lost 7% bytes to exactly this), so the sampled
        // gate runs at gate − 2σ for THIS sample size (87% at the default
        // 640) and the size race decides — the encoder recounts
        // exceptions exactly either way
        if (depth < 1 || s.sDistinct * 2 > s.sampleN ||
          s.sTopCount < s.sampleN * IntStats.sampledFreqGate(s.sampleN, s.count))
          Long.MaxValue
        else {
          val exc = math.round(n * (s.sampleN - s.sTopCount).toDouble / math.max(1, s.sampleN))
          val posBits = Bitpack.bitsFor((s.count - 1).toLong)
          2 + 16 + exc * (posBits + Bitpack.bitsForRange(s.min, s.max)) / 8 + 24
        }
      case Pfor =>
        // needs the cascade budget for its patch lists; pointless on tiny
        // chunks where the fixed overhead dominates
        if (depth < 1 || s.count < 64) Long.MaxValue
        else {
          val (w, exc, size) = pforPlan(s)
          if (exc == 0 || w == 0) Long.MaxValue else size
        }
      case _ => Long.MaxValue
    }
  }

  private val AllSchemes =
    Array(OneValue, ForBp, DeltaBp, Dict, Rle, Frequency, Pfor, Uncompressed)

  /** `values` as one chunk for [[SchemePicker]]; `withSum` for a root
    * chunk, whose footer records the sum.
    */
  private[format] final class Chunk(
      values: Array[Long],
      count: Int,
      physWidth: Int,
      cfg: BtrConfig,
      seed: Long,
      withSum: Boolean = false
  ) extends SchemeChunk(count, cfg, seed) {
    val s: IntStats =
      IntStats.compute(values, count, seed, cfg.sampleRuns, cfg.sampleRunLen, withSum)
    private var built: DictBuild.Longs = null
    /** The chunk's dictionary, built on first use. */
    def dict: DictBuild.Longs = {
      if (built == null) built = DictBuild.longs(values, count, s.distinctEst)
      built
    }
    /** The dictionary if an encode has built it, else null. */
    def builtDict: DictBuild.Longs = built
    def runCount: Int = s.runCount
    def names: Map[Int, String] = BtrConfig.intNames
    def forced: Option[Int] = cfg.forceInt
    def candidates: Array[Int] = AllSchemes
    def enabled(scheme: Int): Boolean = cfg.intEnabled(scheme)
    // OneValue requires a constant chunk; everything else encodes
    // arbitrary data
    def structurallyValid(scheme: Int, depth: Int): Boolean = scheme match {
      case OneValue => s.runCount <= 1
      case Uncompressed | ForBp | DeltaBp => true
      case Dict | Rle | Frequency => depth >= 1 && s.count >= 1
      case Pfor => depth >= 1 && s.count >= 1 && Bitpack.bitsForRange(s.min, s.max) > 0
      case _ => false
    }
    def rawBound: Long = 1 + count.toLong * physWidth
    def encodeAs(scheme: Int, out: BufWriter, depth: Int, cfg: BtrConfig, seed: Long): Unit =
      IntCodec.encodeAs(scheme, out, values, count, physWidth, depth, s, dict, cfg, seed)
    def screen(depth: Int, est: Array[Long]): Int = {
      var best = Uncompressed
      est(Uncompressed) = formulaEstimate(Uncompressed, s, physWidth, depth)
      for (sch <- AllSchemes) {
        est(sch) = if (admits(sch)) formulaEstimate(sch, s, physWidth, depth) else Long.MaxValue
        if (est(sch) < est(best)) best = sch
      }
      best
    }
    // int try-all candidates encode at seed 42, not the chunk seed (their
    // cascades' samples, hence the written bytes, depend on it)
    override def tryAllSeed: Long = 42L
    override def sampleN: Int = s.sampleN
    override def sTopCount: Int = s.sTopCount
    override def hasSample: Boolean = s.sample != null
    override def escalates: Boolean = true
    override def approx(scheme: Int): Boolean = isApprox(scheme)
    override lazy val sampleChunk: SchemeChunk = new Chunk(s.sample, s.sampleN, physWidth, cfg, 42L)
    override def measureDict(depth: Int): Long = measuredDictEstimate(s, depth, cfg)
  }

  /** Encode `count` values; writes [u8 scheme][payload], the scheme picked
    * by [[SchemePicker.encode]].
    */
  def encode(
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encode(new Chunk(values, count, physWidth, cfg, seed), out, depth)

  /** Forced top-level scheme (see [[SchemePicker.encodeForced]]); cascade
    * sub-blocks still pick their own.
    */
  def encodeForced(
      scheme: Int,
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encodeForced(new Chunk(values, count, physWidth, cfg, seed), scheme, out, depth)

  private def encodeAs(
      scheme: Int,
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      s: IntStats,
      dictionary: => DictBuild.Longs,
      cfg: BtrConfig,
      seed: Long
  ): Unit = {
    // derived seed for cascade sub-blocks (distinct per nesting level)
    val sub = seed * 6364136223846793005L + 1442695040888963407L
    out.putByte(scheme)
    scheme match {
      case Uncompressed => writeRaw(out, values, count, physWidth)
      case OneValue => out.putLong(if (count > 0) values(0) else 0L)
      case ForBp =>
        val width = Bitpack.bitsForRange(s.min, s.max)
        out.putLong(s.min)
        out.putByte(width)
        if (width > 0) {
          val rebased = new Array[Long](count)
          var i = 0
          while (i < count) { rebased(i) = values(i) - s.min; i += 1 }
          Bitpack.pack(rebased, count, width, out)
        }
      case DeltaBp =>
        // sorted: store v0, then FOR-bitpacked deltas (none below 2 values)
        val deltas = new Array[Long](math.max(count - 1, 0))
        var minD = if (count > 1) Long.MaxValue else 0L
        var maxD = if (count > 1) Long.MinValue else 0L
        var i = 1
        while (i < count) {
          val d = values(i) - values(i - 1)
          deltas(i - 1) = d
          if (d < minD) minD = d
          if (d > maxD) maxD = d
          i += 1
        }
        val width = Bitpack.bitsForRange(minD, maxD)
        out.putLong(if (count > 0) values(0) else 0L)
        out.putLong(minD)
        out.putByte(width)
        if (width > 0) {
          i = 0
          while (i < count - 1) { deltas(i) -= minD; i += 1 }
          Bitpack.pack(deltas, count - 1, width, out)
        }
      case Dict =>
        // sorted distinct values; codes cascade-compressed
        val dict = dictionary
        out.putInt(dict.entries.length)
        encode(out, dict.entries, dict.entries.length, 8, depth - 1, cfg, sub)
        encode(out, dict.codes, count, 8, depth - 1, cfg, sub + 1)
      case Rle =>
        val (runVals, runLens, nRuns) = runs(values, count)
        out.putInt(nRuns)
        encode(out, runVals, nRuns, 8, depth - 1, cfg, sub)
        encode(out, runLens, nRuns, 8, depth - 1, cfg, sub + 1)
      case Frequency =>
        // top value comes from the (possibly sampled) stats; the exception
        // count is recounted exactly so sampling can never corrupt data
        val top = s.topValue
        var nExc = 0
        var i = 0
        while (i < count) { if (values(i) != top) nExc += 1; i += 1 }
        out.putLong(top)
        out.putInt(nExc)
        val pos = new Array[Long](nExc)
        val exc = new Array[Long](nExc)
        var p = 0
        i = 0
        while (i < count) {
          if (values(i) != top) { pos(p) = i.toLong; exc(p) = values(i); p += 1 }
          i += 1
        }
        encode(out, pos, nExc, 8, depth - 1, cfg, sub) // sorted → DeltaBp
        encode(out, exc, nExc, 8, depth - 1, cfg, sub + 1)
      case Pfor =>
        // width from the (possibly sampled) plan; exceptions recounted
        // exactly against that width
        val (w, _, _) = pforPlan(s)
        out.putLong(s.min)
        out.putByte(w)
        val limit = Bitpack.mask(w)
        var nExc = 0
        var i = 0
        while (i < count) {
          if (java.lang.Long.compareUnsigned(values(i) - s.min, limit) > 0) nExc += 1
          i += 1
        }
        val rebased = new Array[Long](count)
        val pos = new Array[Long](nExc)
        val exc = new Array[Long](nExc)
        var p = 0
        i = 0
        while (i < count) {
          val r = values(i) - s.min
          // unsigned comparison: wraparound rebase can go negative as i64
          if (java.lang.Long.compareUnsigned(r, limit) > 0) {
            pos(p) = i.toLong
            exc(p) = values(i)
            p += 1
          } else rebased(i) = r
          i += 1
        }
        Bitpack.pack(rebased, count, w, out)
        out.putInt(nExc)
        encode(out, pos, nExc, 8, depth - 1, cfg, sub) // sorted → DeltaBp
        encode(out, exc, nExc, 8, depth - 1, cfg, sub + 1)
    }
  }

  def decode(in: BufReader, count: Int): Array[Long] = {
    val out = new Array[Long](count)
    decodeInto(in, count, out)
    out
  }

  /** Numeric dictionary view: distinct entries + per-row codes. */
  final class DictView(val entries: Array[Long], val codes: Array[Long])

  /** A top-level DICT chunk as (entries, codes) — no per-row value
    * materialization; the scan hands Spark a dictionary-encoded
    * ColumnVector (ids only) and values resolve lazily on access, so
    * rows a late-materialization filter rejects never touch the entry
    * array. Returns null (with `in` unadvanced) for every other scheme.
    * The codes land in `codesOut` when given (at least `count` long),
    * else in a fresh array.
    */
  def decodeDictView(in: BufReader, count: Int, codesOut: Array[Long] = null): DictView = {
    val probe = in.duplicate()
    if (probe.getByte() != Dict) return null
    val dictSize = probe.getInt()
    val entries = decode(probe, dictSize)
    val codes = if (codesOut != null) codesOut else new Array[Long](count)
    decodeInto(probe, count, codes)
    new DictView(entries, codes)
  }

  def decodeInto(in: BufReader, count: Int, out: Array[Long]): Unit = {
    val scheme = in.getByte()
    scheme match {
      case Uncompressed => readRaw(in, out, count)
      case OneValue =>
        val v = in.getLong()
        java.util.Arrays.fill(out, 0, count, v)
      case ForBp =>
        val base = in.getLong()
        val width = in.getByte()
        Bitpack.unpack(in, count, width, out)
        if (base != 0L) {
          var i = 0
          while (i < count) { out(i) += base; i += 1 }
        }
      case DeltaBp =>
        val v0 = in.getLong()
        val minD = in.getLong()
        val width = in.getByte()
        if (count > 0) {
          Bitpack.unpack(in, count - 1, width, out)
          // prefix-sum in place, shifted right by one: out holds deltas at
          // 0..count-2, so each slot's delta is read before it is overwritten
          var acc = v0
          var d = out(0)
          out(0) = v0
          var i = 1
          while (i < count) {
            val next = out(i)
            acc += d + minD
            out(i) = acc
            d = next
            i += 1
          }
        }
      case Dict =>
        val dictSize = in.getInt()
        val dict = decode(in, dictSize)
        val codes = new Array[Long](count)
        decodeInto(in, count, codes)
        var i = 0
        while (i < count) { out(i) = dict(codes(i).toInt); i += 1 }
      case Rle =>
        val nRuns = in.getInt()
        val runVals = decode(in, nRuns)
        val runLens = decode(in, nRuns)
        var p = 0
        var r = 0
        while (r < nRuns) {
          val v = runVals(r)
          val len = runLens(r).toInt
          java.util.Arrays.fill(out, p, p + len, v)
          p += len
          r += 1
        }
      case Frequency =>
        val top = in.getLong()
        val nExc = in.getInt()
        val pos = decode(in, nExc)
        val exc = decode(in, nExc)
        java.util.Arrays.fill(out, 0, count, top)
        var i = 0
        while (i < nExc) { out(pos(i).toInt) = exc(i); i += 1 }
      case Pfor =>
        val base = in.getLong()
        val width = in.getByte()
        Bitpack.unpack(in, count, width, out)
        if (base != 0L) {
          var i = 0
          while (i < count) { out(i) += base; i += 1 }
        }
        val nExc = in.getInt()
        val pos = decode(in, nExc)
        val exc = decode(in, nExc)
        var i = 0
        while (i < nExc) { out(pos(i).toInt) = exc(i); i += 1 }
      case other => throw new IllegalStateException(s"bad int scheme $other")
    }
  }

  private def writeRaw(out: BufWriter, values: Array[Long], count: Int, physWidth: Int): Unit = {
    out.putByte(physWidth)
    physWidth match {
      case 1 =>
        var i = 0
        while (i < count) { out.putByte(values(i).toInt & 0xff); i += 1 }
      case 2 =>
        var i = 0
        while (i < count) {
          val v = values(i).toInt
          out.putByte(v & 0xff); out.putByte((v >>> 8) & 0xff)
          i += 1
        }
      case 4 =>
        var i = 0
        while (i < count) { out.putInt(values(i).toInt); i += 1 }
      case _ => out.putLongs(values, count)
    }
  }

  private def readRaw(in: BufReader, out: Array[Long], count: Int): Unit = {
    val physWidth = in.getByte()
    physWidth match {
      case 1 =>
        var i = 0
        while (i < count) { out(i) = in.getByte().toLong; i += 1 }
      case 2 =>
        // sign-extend like the 4/8-byte paths (getByte is unsigned; the
        // raw value was the low 16 bits of a signed long)
        var i = 0
        while (i < count) {
          out(i) = ((in.getByte() | (in.getByte() << 8)).toShort).toLong
          i += 1
        }
      case 4 =>
        var i = 0
        while (i < count) { out(i) = in.getInt().toLong; i += 1 }
      case _ =>
        var i = 0
        while (i < count) { out(i) = in.getLong(); i += 1 }
    }
  }

  private[format] def runs(values: Array[Long], count: Int): (Array[Long], Array[Long], Int) = {
    if (count == 0) return (Array.emptyLongArray, Array.emptyLongArray, 0)
    var n = 1
    var i = 1
    while (i < count) { if (values(i) != values(i - 1)) n += 1; i += 1 }
    val vals = new Array[Long](n)
    val lens = new Array[Long](n)
    var r = 0
    var runStart = 0
    i = 1
    while (i <= count) {
      if (i == count || values(i) != values(i - 1)) {
        vals(r) = values(i - 1)
        lens(r) = (i - runStart).toLong
        r += 1
        runStart = i
      }
      i += 1
    }
    (vals, lens, n)
  }
}
