package graft.format

/** Writer-side configuration surface — the Spark analog of the reference's
  * global config + scheme pool controls
  * (/root/reference/btrblocks/btrblocks.hpp:20-69,
  * /root/reference/btrblocks/scheme/SchemePool.cpp:115-119):
  *
  *  - `schemes`: enabled scheme names (lower-case); empty set = all.
  *    Uncompressed and OneValue are always available as fallbacks.
  *  - `forceInt`/`forceDouble`/`forceString`: force one scheme per type
  *    family (the analog of EnforceScheme in the reference's tests,
  *    test/test-cases/V2.cpp:14-98). Forcing OneValue on non-constant
  *    data is rejected at encode time (it would drop data).
  *  - `tryAll`: TRY_ALL selection — actually encode every eligible
  *    candidate and keep the smallest, instead of estimate-based greedy
  *    selection over sampled stats (SAMPLE mode, the default).
  *  - `sampleRuns` × `sampleRunLen`: stratified sampling geometry for
  *    SAMPLE mode (ref stats/NumberStats.hpp:34-76 uses 10 × 64);
  *    sampleRuns == 0 disables sampling (full-chunk stats).
  */
final case class BtrConfig(
    schemes: Set[String],
    forceInt: Option[Int],
    forceDouble: Option[Int],
    forceString: Option[Int],
    tryAll: Boolean,
    sampleRuns: Int,
    sampleRunLen: Int,
    // per-chunk split-block bloom filters over int/string values for
    // equality chunk-skipping; capped per chunk-column so footers stay
    // small (chunks whose cardinality exceeds the budget store none)
    bloomEnabled: Boolean = true,
    bloomMaxBytes: Int = 2048,
    // SAMPLE-mode selection measures cascading candidates by compressing
    // the retained sample (the reference's estimateCompression contract,
    // scheme/CompressionScheme.cpp:8-46); the measurement's own nested
    // encodes turn it off, keeping their cascade choices closed-form
    measuredEstimate: Boolean = true,
    // per-column file-level HyperLogLog NDV sketches in the footer
    // (format v6) — 2^p register bytes per column per file; 0 disables.
    // Planning merges them into table NDV for Catalyst's CBO.
    ndvPrecision: Int = Hll.DefaultP
) {
  def intEnabled(scheme: Int): Boolean =
    schemes.isEmpty || schemes.contains(BtrConfig.intNames(scheme))
  def doubleEnabled(scheme: Int): Boolean =
    if (scheme == DoubleCodec.DoubleBp || scheme == DoubleCodec.Alp)
      // registered but NOT in the default set, like the reference pool
      // (scheme/SchemeType.hpp:49-53 omits DOUBLE_BP; the example config
      // opts in explicitly) — empty `schemes` means "default set" here.
      // ALP (VERDICT r19 #4) follows the same parity gate until a
      // corpus proves it into the default pool.
      schemes.contains(BtrConfig.doubleNames(scheme))
    else schemes.isEmpty || schemes.contains(BtrConfig.doubleNames(scheme))
  def stringEnabled(scheme: Int): Boolean =
    schemes.isEmpty || schemes.contains(BtrConfig.stringNames(scheme))
}

object BtrConfig {
  val intNames: Map[Int, String] = Map(
    IntCodec.Uncompressed -> "uncompressed",
    IntCodec.OneValue -> "onevalue",
    IntCodec.Dict -> "dict",
    IntCodec.Rle -> "rle",
    IntCodec.ForBp -> "forbp",
    IntCodec.DeltaBp -> "deltabp",
    IntCodec.Frequency -> "frequency",
    IntCodec.Pfor -> "pfor"
  )
  val doubleNames: Map[Int, String] = Map(
    DoubleCodec.Uncompressed -> "uncompressed",
    DoubleCodec.OneValue -> "onevalue",
    DoubleCodec.Dict -> "dict",
    DoubleCodec.Rle -> "rle",
    DoubleCodec.Frequency -> "frequency",
    DoubleCodec.Pseudodecimal -> "pseudodecimal",
    DoubleCodec.DoubleBp -> "doublebp",
    DoubleCodec.Alp -> "alp"
  )
  val stringNames: Map[Int, String] = Map(
    StringCodec.Uncompressed -> "uncompressed",
    StringCodec.OneValue -> "onevalue",
    StringCodec.Dict -> "dict",
    StringCodec.Fsst -> "fsst"
  )

  private def invert(m: Map[Int, String]): Map[String, Int] = m.map(_.swap)
  val intByName: Map[String, Int] = invert(intNames)
  val doubleByName: Map[String, Int] = invert(doubleNames)
  val stringByName: Map[String, Int] = invert(stringNames)

  val Default: BtrConfig =
    BtrConfig(Set.empty, None, None, None, tryAll = false, sampleRuns = 10, sampleRunLen = 64)

  /** Parse the writer option surface; unknown scheme names fail fast. */
  def fromOptions(get: String => Option[String]): BtrConfig = {
    val schemes = get("btr.schemes") match {
      case Some(list) =>
        val names = list.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
        val known = intByName.keySet ++ doubleByName.keySet ++ stringByName.keySet
        val bad = names.diff(known)
        require(bad.isEmpty, s"btr.schemes: unknown scheme(s) ${bad.mkString(",")}")
        names
      case None => Set.empty[String]
    }
    def force(key: String, byName: Map[String, Int]): Option[Int] =
      get(key).map { n =>
        byName.getOrElse(n.trim.toLowerCase,
          throw new IllegalArgumentException(s"$key: unknown scheme '$n'"))
      }
    val selection = get("btr.selection").map(_.trim.toLowerCase).getOrElse("sample")
    require(selection == "sample" || selection == "tryall" || selection == "full",
      s"btr.selection must be sample|tryall|full, got '$selection'")
    BtrConfig(
      schemes = schemes,
      forceInt = force("btr.forceScheme.int", intByName),
      forceDouble = force("btr.forceScheme.double", doubleByName),
      forceString = force("btr.forceScheme.string", stringByName),
      tryAll = selection == "tryall",
      sampleRuns = if (selection == "full") 0 else 10,
      sampleRunLen = 64,
      bloomEnabled = get("btr.bloom.enabled").map(_.trim.toLowerCase) match {
        case None | Some("true") => true
        case Some("false") => false
        case Some(other) =>
          throw new IllegalArgumentException(s"btr.bloom.enabled must be true|false, got '$other'")
      },
      bloomMaxBytes = get("btr.bloom.maxBytes").map { s =>
        val v =
          try s.trim.toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"btr.bloom.maxBytes must be a positive integer, got '$s'")
          }
        require(v > 0, s"btr.bloom.maxBytes must be a positive integer, got '$s'")
        v
      }.getOrElse(2048),
      ndvPrecision = {
        val enabled = get("btr.ndv.enabled").map(_.trim.toLowerCase) match {
          case None | Some("true") => true
          case Some("false") => false
          case Some(other) =>
            throw new IllegalArgumentException(s"btr.ndv.enabled must be true|false, got '$other'")
        }
        if (!enabled) 0
        else get("btr.ndv.precision").map { s =>
          val v =
            try s.trim.toInt
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"btr.ndv.precision must be an integer in [${Hll.MinP},${Hll.MaxP}], got '$s'")
            }
          require(v >= Hll.MinP && v <= Hll.MaxP,
            s"btr.ndv.precision must be in [${Hll.MinP},${Hll.MaxP}], got '$s'")
          v
        }.getOrElse(Hll.DefaultP)
      }
    )
  }
}
