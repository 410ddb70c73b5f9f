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
  */
final case class IntStats(
    count: Int,
    min: Long,
    max: Long,
    runCount: Int,
    isSorted: Boolean,
    sampleN: Int, // values sampled (== count when exhaustive)
    sDistinct: Int, // distinct within the sample
    distinctEst: Int, // Chao1-style chunk-distinct estimate, capped at count
    topValue: Long, // most frequent value in the sample
    sTopCount: Int, // its in-sample frequency
    widthHist: Array[Int], // FOR-width histogram over the sample
    // the sampled values themselves (== the whole chunk when exhaustive),
    // retained so scheme selection can MEASURE a candidate by compressing
    // the sample instead of trusting a closed-form estimate (the
    // reference's estimateCompression contract,
    // /root/reference/btrblocks/scheme/CompressionScheme.cpp:8-46); null
    // in full-stats mode (sampleRuns == 0), where selection stays formula
    sample: Array[Long] = null
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
      runLen: Int = 64
  ): IntStats = {
    if (count == 0)
      return IntStats(0, 0L, 0L, 0, isSorted = true, 0, 0, 0, 0L, 0, new Array[Int](65), null)
    // exact pass: min/max/runs/sortedness (no hashing)
    var min = values(0)
    var max = values(0)
    var runs = 1
    var sorted = true
    var i = 1
    while (i < count) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      if (v != values(i - 1)) runs += 1
      if (v < values(i - 1)) sorted = false
      i += 1
    }
    // sampled pass: frequency map over stratified runs (exhaustive on
    // small chunks where sampling saves nothing)
    val exhaustive = sampleRuns <= 0 || count <= sampleRuns * runLen * 2
    val freq = new mutable.LongMap[Int](1 << 10)
    val hist = new Array[Int](65)
    val keepSample = sampleRuns > 0
    val sampleBuf =
      if (!keepSample) null
      else new Array[Long](if (exhaustive) count else sampleRuns * runLen)
    var sampleN = 0
    @inline def addSample(v: Long): Unit = {
      freq(v) = freq.getOrElse(v, 0) + 1
      hist(Bitpack.bitsForRange(0L, v - min)) += 1
      if (sampleBuf != null) sampleBuf(sampleN) = v
      sampleN += 1
    }
    if (exhaustive) {
      i = 0
      while (i < count) { addSample(values(i)); i += 1 }
    } else {
      // one run per disjoint stratum: independent starts can overlap
      // (~9% of chunks at 10×64/65,536), and an overlap double-counts
      // rows, fabricating repeat signal that poisons the NDV estimate
      val rnd = new java.util.Random(seed)
      val stratum = count / sampleRuns
      var r = 0
      while (r < sampleRuns) {
        val base = r * stratum
        val span = (if (r == sampleRuns - 1) count - base else stratum) - runLen
        val start = base + (if (span > 0) rnd.nextInt(span + 1) else 0)
        var j = start
        val end = start + runLen
        while (j < end) { addSample(values(j)); j += 1 }
        r += 1
      }
    }
    var topV = values(0)
    var topC = 0
    freq.foreachEntry { (k, c) =>
      if (c > topC) { topC = c; topV = k }
    }
    val d = freq.size
    val distinctEst =
      if (exhaustive) d
      else {
        // two-part estimate: clearly-heavy values (≥ max(3, m/100) sample
        // hits) are fully observed, so they contribute their exact count;
        // the rare remainder gets the moment inversion on its own
        // subpopulation, which degrades to the all-distinct cap when the
        // rare part carries no collision signal (a 93%-constant column
        // with a distinct tail looks like d≈50 overall, but the tail's
        // rows are ~all distinct and dict must pay for every one)
        val hThresh = math.max(3, sampleN / 100)
        var dRare = 0
        var mRare = 0
        freq.foreachEntry { (_, c) => if (c < hThresh) { dRare += 1; mRare += c } }
        val nRare =
          math.min(count.toLong, math.round(count.toDouble * mRare / math.max(1, sampleN))).toInt
        math.min(count, (d - dRare) + momentNdv(dRare, mRare, nRare))
      }
    IntStats(count, min, max, runs, sorted, sampleN, d, distinctEst, topV, topC, hist, sampleBuf)
  }

  /** Method-of-moments NDV estimate: solve E[d] = D·(1 − (1−m/n)^(n/D))
    * for D by bisection (E is monotone increasing in D), assuming
    * near-uniform value frequencies. Replaces Chao1, whose f1²/2f2 term
    * explodes with huge variance when the sample is singleton-dominated
    * (f2 → 0) — exactly the scattered-id shape where the dict size
    * estimate matters most. A sample with zero repeats carries no
    * collision signal, so the estimate is the cap (count), which
    * correctly gates dict out on near-unique columns.
    */
  def momentNdv(d: Int, m: Int, n: Int): Int = {
    if (d <= 0) return 0
    // < 8 repeat observations: the inversion has no statistical power
    // (1–2 collisions put the estimate anywhere in [n/3, n]), so return
    // the conservative cap — an unlucky low draw would let dict win
    // races it loses by ~18% on near-unique chunks
    if (m - d < 8 || m >= n) return n
    val q = 1.0 - m.toDouble / n
    var lo = d.toDouble
    var hi = n.toDouble
    var it = 0
    while (it < 48) {
      val mid = 0.5 * (lo + hi)
      val e = mid * (1.0 - math.pow(q, n / mid))
      if (e < d) lo = mid else hi = mid
      it += 1
    }
    math.max(d.toLong, math.min(n.toLong, math.round(0.5 * (lo + hi)))).toInt
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

  /** Measured estimate: compress the retained sample with the candidate
    * scheme — including its full cascade, which on sample-sized inputs is
    * an EXACT compression — and scale the bytes to the chunk. This is the
    * reference's estimateCompression contract (sample-compress at the top,
    * full compression at deeper levels,
    * /root/reference/btrblocks/scheme/CompressionScheme.cpp:8-46), where
    * the closed forms below are only the pre-gate screen.
    */
  private def measuredEstimate(
      scheme: Int,
      s: IntStats,
      physWidth: Int,
      depth: Int,
      cfg: BtrConfig
  ): Long = {
    val smp = s.sample
    val n = s.sampleN
    val ss = IntStats.compute(smp, n, 42L, cfg.sampleRuns, cfg.sampleRunLen)
    if (!structurallyValid(scheme, ss, depth)) return Long.MaxValue
    val scratch = new BufWriter(1 << 10)
    // cascade choices inside the measurement go by formula — the sample
    // cascade still compresses fully, and the real encode re-decides
    encodeAs(scheme, scratch, smp, n, physWidth, depth, ss,
      cfg.copy(measuredEstimate = false), 42L)
    math.max(1L, math.ceil(scratch.pos.toDouble * s.count / math.max(1, n)).toLong)
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
    val dict = distinctSorted(smp, n)
    if (dict.length < 1 || dict.length >= n) return Long.MaxValue
    val sub = cfg.copy(measuredEstimate = false)
    val tScratch = new BufWriter(1 << 10)
    encode(tScratch, dict, dict.length, 8, depth - 1, sub, 42L)
    val codes = new Array[Long](n)
    var i = 0
    while (i < n) { codes(i) = binarySearch(dict, smp(i)).toLong; i += 1 }
    val cScratch = new BufWriter(1 << 10)
    encode(cScratch, codes, n, 8, depth - 1, sub, 43L)
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
    * forms act as the SCREEN; [[choose]] measures the close contenders.
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

  def choose(s: IntStats, physWidth: Int, depth: Int, cfg: BtrConfig = BtrConfig.Default): Int = {
    if (s.count == 0) return Uncompressed
    if (s.runCount <= 1) return OneValue // exact: a single run means constant
    // formula pass over every enabled candidate
    val est = new Array[Long](AllSchemes.length)
    var best = Uncompressed
    var bestSize = formulaEstimate(Uncompressed, s, physWidth, depth)
    var i = 0
    while (i < AllSchemes.length) {
      val sch = AllSchemes(i)
      val enabled = sch == Uncompressed || sch == OneValue || cfg.intEnabled(sch)
      est(i) = if (enabled) formulaEstimate(sch, s, physWidth, depth) else Long.MaxValue
      if (est(i) < bestSize) { best = sch; bestSize = est(i) }
      i += 1
    }
    // measure pass (the reference's estimateCompression contract): the
    // approximate-formula contenders within 1.5× of the leader get their
    // size MEASURED by compressing the retained sample; a clear formula
    // winner skips the work entirely
    if (cfg.measuredEstimate && s.sample != null && bestSize < Long.MaxValue) {
      val zone = bestSize + (bestSize >> 1)
      var needMeasure = false
      i = 0
      while (i < AllSchemes.length && !needMeasure) {
        if (isApprox(AllSchemes(i)) && est(i) <= zone) needMeasure = true
        i += 1
      }
      if (needMeasure) {
        best = Uncompressed
        bestSize = formulaEstimate(Uncompressed, s, physWidth, depth)
        i = 0
        while (i < AllSchemes.length) {
          val sch = AllSchemes(i)
          if (est(i) < Long.MaxValue) {
            val e =
              if (isApprox(sch) && est(i) <= zone) {
                if (sch == Dict) measuredDictEstimate(s, depth, cfg)
                else measuredEstimate(sch, s, physWidth, depth, cfg)
              } else est(i)
            if (e < bestSize) { best = sch; bestSize = e }
          }
          i += 1
        }
      }
    }
    best
  }

  /** Schemes that can encode this chunk without data loss (used by
    * TRY_ALL and forced-scheme validation). OneValue requires a constant
    * chunk; everything else encodes arbitrary data.
    */
  private def structurallyValid(scheme: Int, s: IntStats, depth: Int): Boolean = scheme match {
    case OneValue => s.runCount <= 1
    case Uncompressed | ForBp => true
    case DeltaBp => true
    case Dict | Rle | Frequency => depth >= 1 && s.count >= 1
    case Pfor => depth >= 1 && s.count >= 1 && Bitpack.bitsForRange(s.min, s.max) > 0
    case _ => false
  }

  /** Encode `count` values; writes [u8 scheme][payload]. SAMPLE mode
    * (default): greedy pick over estimates with an anti-regression guard
    * (SchemePicker.hpp:181-190). TRY_ALL (cfg.tryAll): encode every
    * eligible candidate and keep the smallest
    * (ref SchemePicker.hpp:139-179).
    */
  def encode(
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = {
    val s = IntStats.compute(values, count, seed, cfg.sampleRuns, cfg.sampleRunLen)
    // Run-dominated chunks escalate to exhaustive selection even in SAMPLE
    // mode: a stratified sample structurally cannot see sublinear run
    // structure (run count is exact but does not scale with rows, so every
    // extrapolated estimate is biased), while a chunk with ≤ count/32 runs
    // is cheap to encode under every candidate — bounded by the cost the
    // reference's own TRY_ALL mode pays on EVERY chunk.
    // Near-constant chunks (e.g. a 98%-null column's dict-codes stream,
    // where one placeholder code dominates) escalate for the same
    // structural reason: the sample's MINORITY values — the only signal
    // the freq-vs-rle-vs-dict race has — number < 64, so the race is
    // decided by small-sample variance (promo_code's 1.09× stake, r18).
    // Such chunks are cheap to encode under every candidate: minority
    // < 10% of a 640-value sample implies run count ≈ 2× the minority
    // share of rows, so every candidate encode is run- or
    // exception-bounded, within the reference TRY_ALL's per-chunk cost.
    val runDom = s.runCount.toLong * 32 <= count
    val nearConst = !runDom && count > s.sampleN && s.sampleN - s.sTopCount < 64
    if (cfg.tryAll ||
      (cfg.measuredEstimate && depth >= 1 && count >= 1024 && (runDom || nearConst))) {
      // TRY_ALL encodes attribute as kind 0 (un-escalated): a tryall
      // write's telemetry then yields the exhaustive per-chunk encode
      // baseline the escalation-cost pin compares against — same
      // instrument on both sides, no Spark job/commit overhead in the
      // denominator (ADVICE r20)
      if (cfg.tryAll) EscalationTelemetry.timed(0) {
        tryAllEncode(out, values, count, physWidth, depth, cfg, s)
      }
      else EscalationTelemetry.timed(if (runDom) 1 else 2) {
        tryAllEncode(out, values, count, physWidth, depth, cfg, s)
      }
      return
    }
    EscalationTelemetry.timed(0) {
      val start = out.pos
      val scheme = choose(s, physWidth, depth, cfg)
      encodeAs(scheme, out, values, count, physWidth, depth, s, cfg, seed)
      val rawSize = 1 + count.toLong * physWidth
      if (scheme != Uncompressed && (out.pos - start).toLong > rawSize) {
        out.truncate(start)
        encodeAs(Uncompressed, out, values, count, physWidth, depth, s, cfg, seed)
      }
    }
  }

  /** Forced top-level scheme (the Spark analog of EnforceScheme,
    * ref test/test-cases/V2.cpp:14-98): validates the scheme can hold the
    * data, then encodes with it; cascade sub-blocks still self-select.
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
  ): Unit = {
    val s = IntStats.compute(values, count, seed, cfg.sampleRuns, cfg.sampleRunLen)
    require(structurallyValid(scheme, s, depth),
      s"btr.forceScheme: ${BtrConfig.intNames(scheme)} cannot encode this chunk " +
        s"(count=$count, runs=${s.runCount}, depth=$depth)")
    encodeAs(scheme, out, values, count, physWidth, depth, s, cfg, seed)
  }

  private def tryAllEncode(
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      cfg: BtrConfig,
      s: IntStats
  ): Unit = {
    var bestBytes: Array[Byte] = null
    var i = 0
    while (i < AllSchemes.length) {
      val sch = AllSchemes(i)
      val allowed = sch == Uncompressed || sch == OneValue || cfg.intEnabled(sch)
      if (allowed && structurallyValid(sch, s, depth)) {
        val scratch = new BufWriter(1 << 12)
        encodeAs(sch, scratch, values, count, physWidth, depth, s, cfg, 42L)
        if (bestBytes == null || scratch.pos < bestBytes.length) bestBytes = scratch.result()
      }
      i += 1
    }
    out.putBytes(bestBytes)
  }

  def encodeAs(
      scheme: Int,
      out: BufWriter,
      values: Array[Long],
      count: Int,
      physWidth: Int,
      depth: Int,
      s: IntStats,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
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
        val dict = distinctSorted(values, count)
        out.putInt(dict.length)
        encode(out, dict, dict.length, 8, depth - 1, cfg, sub)
        val codes = new Array[Long](count)
        var i = 0
        while (i < count) {
          codes(i) = binarySearch(dict, values(i)).toLong
          i += 1
        }
        encode(out, codes, count, 8, depth - 1, cfg, sub + 1)
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

  private[format] def distinctSorted(values: Array[Long], count: Int): Array[Long] = {
    val copy = java.util.Arrays.copyOf(values, count)
    java.util.Arrays.sort(copy)
    var n = 0
    var i = 0
    while (i < count) {
      if (i == 0 || copy(i) != copy(i - 1)) { copy(n) = copy(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(copy, n)
  }

  private[format] def binarySearch(sorted: Array[Long], v: Long): Int = {
    var lo = 0
    var hi = sorted.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mv = sorted(mid)
      if (mv == v) return mid
      else if (mv < v) lo = mid + 1
      else hi = mid - 1
    }
    -1
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
