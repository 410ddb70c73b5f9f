package graft.format

import scala.collection.mutable

/** One chunk of one type family, as [[SchemePicker]] sees it. The family
  * supplies only what really differs between families: its stats pass
  * (run at construction, under `cfg`'s sampling geometry and `seed`), its
  * candidate order and `cfg.*Enabled` check, structural validity, the
  * closed-form screens, the dict-aware measured estimate and the
  * encoders. Every per-value loop stays behind these methods, so the
  * picker touches no value. Scheme ids 0, 1 and 2 are Uncompressed,
  * OneValue and Dict in every family. Each family builds its full-chunk
  * dictionary at most once, on first use: the Dict encode, try-all's Dict
  * candidate and the footer statistics share it.
  */
private[format] abstract class SchemeChunk(val count: Int, val cfg: BtrConfig, val seed: Long) {
  /** Exact run count; a single run is a constant chunk. */
  def runCount: Int

  /** Wire names of the family's schemes, by id. */
  def names: Map[Int, String]

  /** The scheme `cfg` forces on this family's columns, if any. */
  def forced: Option[Int]

  /** Every scheme in race order: try-all and the measure pass visit them
    * in this order, and a tie goes to the earlier one.
    */
  def candidates: Array[Int]

  /** `cfg`'s scheme set enables `scheme`. */
  def enabled(scheme: Int): Boolean

  /** `scheme` may enter the race: Uncompressed and OneValue always do. */
  final def admits(scheme: Int): Boolean =
    scheme == SchemePicker.Uncompressed || scheme == SchemePicker.OneValue || enabled(scheme)

  /** `scheme` can hold this chunk without data loss. */
  def structurallyValid(scheme: Int, depth: Int): Boolean

  /** Bytes an uncompressed encode of this chunk may take; a picked scheme
    * that ends up larger is re-encoded uncompressed.
    */
  def rawBound: Long

  def encodeAs(scheme: Int, out: BufWriter, depth: Int, cfg: BtrConfig, seed: Long): Unit

  /** Closed-form screen of a non-constant chunk: fills `est` (bytes per
    * scheme id, Long.MaxValue where a scheme is out of the race, always
    * the Uncompressed entry) and returns the leader.
    */
  def screen(depth: Int, est: Array[Long]): Int

  /** The seed the try-all candidates encode with. */
  def tryAllSeed: Long = seed

  // Measured estimates and escalation; a family without a retained
  // sample (the string family) never reaches the members below.

  /** Values sampled (== count when the sample is exhaustive). */
  def sampleN: Int = count

  /** In-sample count of the most frequent value. */
  def sTopCount: Int = 0

  /** The sampled values are retained, so close races can be measured. */
  def hasSample: Boolean = false

  /** Run-dominated and near-constant chunks escalate to try-all. */
  def escalates: Boolean = false

  /** `scheme`'s closed form is approximate (cascade sizes are guessed),
    * so a close race measures it.
    */
  def approx(scheme: Int): Boolean = false

  /** The retained sample as a chunk of its own, stats computed at seed 42. */
  def sampleChunk: SchemeChunk = throw new UnsupportedOperationException("no retained sample")

  /** Dict's measured estimate: its table scales with NDV, not rows. */
  def measureDict(depth: Int): Long = Long.MaxValue
}

/** The BtrBlocks scheme picker, once for every type family (ref
  * compression/SchemePicker.hpp): the stratified sample's placement and
  * the NDV estimate the families' stats passes share, then per chunk the
  * forced-scheme dispatch, the constant and empty shortcuts
  * (SchemePicker.hpp:118-129), the greedy pick over closed-form screens
  * with a measure pass over close contenders (:34-68, the
  * estimateCompression contract of scheme/CompressionScheme.cpp:8-46),
  * TRY_ALL (:139-179) with the SAMPLE-mode escalation to it, and the
  * anti-regression guard (:181-190).
  */
private[format] object SchemePicker {
  val Uncompressed = 0
  val OneValue = 1
  val Dict = 2

  /** Row ranges of a chunk's stratified sample, as flattened (start, end)
    * pairs: one `runLen`-row run at a seeded offset in each of `runs`
    * disjoint strata (ref stats/NumberStats.hpp:34-76), or the whole
    * chunk when it is too small for sampling to save anything or `runs`
    * is 0 (full stats). One run per disjoint stratum: independent starts
    * can overlap (~9% of chunks at 10×64/65,536), and an overlap
    * double-counts rows, fabricating repeat signal that poisons the NDV
    * estimate.
    */
  def sampleRanges(count: Int, runs: Int, runLen: Int, seed: Long): Array[Int] =
    if (runs <= 0 || count <= runs * runLen * 2) Array(0, count)
    else {
      val rnd = new java.util.Random(seed)
      val stratum = count / runs
      val ranges = new Array[Int](2 * runs)
      var r = 0
      while (r < runs) {
        val base = r * stratum
        val span = (if (r == runs - 1) count - base else stratum) - runLen
        val start = base + (if (span > 0) rnd.nextInt(span + 1) else 0)
        ranges(2 * r) = start
        ranges(2 * r + 1) = start + runLen
        r += 1
      }
      ranges
    }

  /** Rows covered by [[sampleRanges]]. */
  def sampleSize(ranges: Array[Int]): Int = {
    var n = 0
    var r = 0
    while (r < ranges.length) { n += ranges(r + 1) - ranges(r); r += 2 }
    n
  }

  /** What a sample's frequency map says about its chunk. */
  final case class Frequencies(top: Long, topCount: Int, distinct: Int, distinctEst: Int)

  /** Most frequent key, its in-sample count, the sample's distinct count
    * and the chunk NDV estimate from a frequency map over `sampleN`
    * sampled rows of a `count`-row chunk. An exhaustive sample is exact.
    * Otherwise a two-part estimate: clearly-heavy values (≥ max(3, m/100)
    * sample hits) are fully observed, so they contribute their exact
    * count; the rare remainder gets the [[momentNdv]] inversion on its own
    * subpopulation, which degrades to the all-distinct cap when the rare
    * part carries no collision signal (a 93%-constant column with a
    * distinct tail looks like d≈50 overall, but the tail's rows are ~all
    * distinct and dict must pay for every one).
    */
  def frequencies(freq: mutable.LongMap[Int], sampleN: Int, count: Int): Frequencies = {
    var top = 0L
    var topCount = 0
    freq.foreachEntry { (k, c) =>
      if (c > topCount) { topCount = c; top = k }
    }
    val d = freq.size
    val distinctEst =
      if (sampleN >= count) d
      else {
        val hThresh = math.max(3, sampleN / 100)
        var dRare = 0
        var mRare = 0
        freq.foreachEntry { (_, c) => if (c < hThresh) { dRare += 1; mRare += c } }
        val nRare =
          math.min(count.toLong, math.round(count.toDouble * mRare / math.max(1, sampleN))).toInt
        math.min(count, (d - dRare) + momentNdv(dRare, mRare, nRare))
      }
    Frequencies(top, topCount, d, distinctEst)
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

  /** Encode a column chunk: the scheme `cfg` forces on its family (the
    * Spark analog of EnforceScheme, ref test/test-cases/V2.cpp:14-98),
    * else the picked one. Cascade sub-blocks always pick.
    */
  def encodeColumn(c: SchemeChunk, out: BufWriter, depth: Int): Unit = c.forced match {
    case Some(scheme) => encodeForced(c, scheme, out, depth)
    case None => encode(c, out, depth)
  }

  /** Encode with `scheme` after checking it can hold the chunk. */
  def encodeForced(c: SchemeChunk, scheme: Int, out: BufWriter, depth: Int): Unit = {
    require(c.structurallyValid(scheme, depth),
      s"btr.forceScheme: ${c.names(scheme)} cannot encode this chunk " +
        s"(count=${c.count}, runs=${c.runCount}, depth=$depth)")
    c.encodeAs(scheme, out, depth, c.cfg, c.seed)
  }

  /** Writes [u8 scheme][payload]. SAMPLE mode (default): greedy pick with
    * the anti-regression guard; TRY_ALL (`cfg.tryAll`) and the escalated
    * chunks: encode every eligible candidate and keep the smallest.
    */
  def encode(c: SchemeChunk, out: BufWriter, depth: Int): Unit = {
    val cfg = c.cfg
    // Run-dominated chunks escalate to exhaustive selection even in SAMPLE
    // mode: a stratified sample structurally cannot see sublinear run
    // structure (run count is exact but does not scale with rows, so every
    // extrapolated estimate is biased — on plateau doubles it keeps RLE
    // where the pseudodecimal cascade is several times smaller), while a
    // chunk with ≤ count/32 runs is cheap to encode under every candidate
    // — bounded by the cost the reference's own TRY_ALL mode pays on
    // EVERY chunk.
    // Near-constant chunks (e.g. a 98%-null column's dict-codes stream,
    // where one placeholder code dominates) escalate for the same
    // structural reason: the sample's MINORITY values — the only signal
    // the freq-vs-rle-vs-dict race has — number < 64, so the race is
    // decided by small-sample variance (promo_code's 1.09× stake, r18).
    // Such chunks are cheap to encode under every candidate: minority
    // < 10% of a 640-value sample implies run count ≈ 2× the minority
    // share of rows, so every candidate encode is run- or
    // exception-bounded, within the reference TRY_ALL's per-chunk cost.
    // A constant chunk never escalates: OneValue (9 bytes) is smaller
    // than every other candidate at 1,024 values or more, so the picker's
    // constant shortcut writes what try-all would.
    // Telemetry kind: 0 un-escalated (TRY_ALL included, so a tryall
    // write's telemetry is the exhaustive per-chunk encode baseline the
    // escalation-cost pin compares against), 1 run-dominated, 2
    // near-constant.
    val escalation =
      if (cfg.tryAll || !c.escalates || !cfg.measuredEstimate || depth < 1 || c.count < 1024 ||
        c.runCount <= 1) 0
      else if (c.runCount.toLong * 32 <= c.count) 1
      else if (c.count > c.sampleN && c.sampleN - c.sTopCount < 64) 2
      else 0
    EscalationTelemetry.timed(escalation) {
      if (cfg.tryAll || escalation != 0) tryAll(c, out, depth)
      else {
        val start = out.pos
        val scheme = choose(c, depth)
        c.encodeAs(scheme, out, depth, cfg, c.seed)
        if (scheme != Uncompressed && (out.pos - start).toLong > c.rawBound) {
          out.truncate(start)
          c.encodeAs(Uncompressed, out, depth, cfg, c.seed)
        }
      }
    }
  }

  /** Encode every eligible candidate into one of two scratch writers,
    * keeping the smallest (the earlier one on a tie) in the other.
    */
  private def tryAll(c: SchemeChunk, out: BufWriter, depth: Int): Unit = {
    var best = new BufWriter(1 << 12)
    var cur = new BufWriter(1 << 12)
    var found = false
    for (sch <- c.candidates if c.admits(sch) && c.structurallyValid(sch, depth)) {
      cur.truncate(0)
      c.encodeAs(sch, cur, depth, c.cfg, c.tryAllSeed)
      if (!found || cur.pos < best.pos) {
        val t = best; best = cur; cur = t
        found = true
      }
    }
    out.putBytes(best.backing, 0, best.pos)
  }

  /** Greedy pick: the screen's leader, unless an approximate contender
    * lies within 1.5× of it — then every such contender is MEASURED by
    * compressing the retained sample, and a clear formula winner skips
    * that work entirely.
    */
  private def choose(c: SchemeChunk, depth: Int): Int = {
    if (c.count == 0) return Uncompressed
    if (c.runCount <= 1) return OneValue // exact: a single run means constant
    val est = Array.fill(c.names.size)(Long.MaxValue)
    val leader = c.screen(depth, est)
    if (!c.cfg.measuredEstimate || !c.hasSample) return leader
    val zone = est(leader) + (est(leader) >> 1)
    if (!c.candidates.exists(sch => c.approx(sch) && est(sch) <= zone)) return leader
    var best = Uncompressed
    var bestSize = est(Uncompressed)
    for (sch <- c.candidates if est(sch) < Long.MaxValue) {
      val e =
        if (!c.approx(sch) || est(sch) > zone) est(sch)
        else if (sch == Dict) c.measureDict(depth)
        else measured(c, sch, depth)
      if (e < bestSize) { best = sch; bestSize = e }
    }
    best
  }

  /** Measured estimate: compress the retained sample with the candidate
    * scheme — including its full cascade, which on sample-sized inputs is
    * an EXACT compression — and scale the bytes to the chunk. Cascade
    * choices inside the measurement go by formula; the real encode
    * re-decides them.
    */
  private def measured(c: SchemeChunk, scheme: Int, depth: Int): Long = {
    val s = c.sampleChunk
    if (!s.structurallyValid(scheme, depth)) return Long.MaxValue
    val scratch = new BufWriter(1 << 10)
    s.encodeAs(scheme, scratch, depth, c.cfg.copy(measuredEstimate = false), 42L)
    math.max(1L, math.ceil(scratch.pos.toDouble * c.count / math.max(1, s.count)).toLong)
  }
}
