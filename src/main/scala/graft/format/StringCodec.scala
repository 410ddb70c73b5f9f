package graft.format

import scala.collection.mutable

/** String-family codec over dense Array[Array[Byte]] (UTF-8 bytes; null
  * rows carry empty placeholders, mirroring the reference's dense
  * values-at-null convention).
  *
  * Schemes mirror /root/reference/btrblocks/scheme/SchemeType.hpp:55-69:
  * Uncompressed (lengths cascade + bytes), OneValue, Dict (sorted distinct,
  * codes int-cascaded, dict bytes optionally FSST), FSST whole-column.
  */
object StringCodec {
  val Uncompressed = 0
  val OneValue = 1
  val Dict = 2
  val Fsst = 3

  // FSST gates per /root/reference/btrblocks/scheme/string/Fsst.cpp:119-127
  private val FsstMinBytes = 16 * 1024

  /** Exact: count, totalLen, runCount (OneValue safety gate). Sampled:
    * distinct proportion (dict-vs-fsst steering), like Int/DoubleStats.
    */
  final case class StringStats(
      count: Int,
      totalLen: Long,
      runCount: Int,
      sampleN: Int,
      sDistinct: Int
  )

  def computeStats(
      values: Array[Array[Byte]],
      count: Int,
      seed: Long = 42L,
      sampleRuns: Int = 10,
      runLen: Int = 64
  ): StringStats = {
    if (count == 0) return StringStats(0, 0L, 0, 0, 0)
    var total = 0L
    var runs = 1
    var i = 0
    while (i < count) {
      total += values(i).length
      if (i > 0 && !java.util.Arrays.equals(values(i), values(i - 1))) runs += 1
      i += 1
    }
    val ranges = SchemePicker.sampleRanges(count, sampleRuns, runLen, seed)
    val seen = new mutable.HashSet[ByteKey]()
    var r = 0
    while (r < ranges.length) {
      i = ranges(r)
      while (i < ranges(r + 1)) { seen.add(new ByteKey(values(i))); i += 1 }
      r += 2
    }
    StringStats(count, total, runs, SchemePicker.sampleSize(ranges), seen.size)
  }

  /** Encode `count` values; writes [u8 scheme][payload], the scheme picked
    * by [[SchemePicker.encode]].
    */
  def encode(
      out: BufWriter,
      values: Array[Array[Byte]],
      count: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encode(new Chunk(values, count, cfg, seed), out, depth)

  /** Forced top-level scheme; validates data-loss safety first. */
  def encodeForced(
      scheme: Int,
      out: BufWriter,
      values: Array[Array[Byte]],
      count: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = SchemePicker.encodeForced(new Chunk(values, count, cfg, seed), scheme, out, depth)

  private val AllSchemes = Array(OneValue, Dict, Fsst, Uncompressed)

  /** `values` as one chunk for [[SchemePicker]]. No sample is retained,
    * so the string family neither measures nor escalates.
    */
  private[format] final class Chunk(values: Array[Array[Byte]], count: Int, cfg: BtrConfig, seed: Long)
      extends SchemeChunk(count, cfg, seed) {
    val s: StringStats = computeStats(values, count, seed, cfg.sampleRuns, cfg.sampleRunLen)
    private var built: DictBuild.Bytes = null
    /** The chunk's dictionary, built on first use. */
    def dict: DictBuild.Bytes = {
      if (built == null) built = DictBuild.bytes(values, count, s.sDistinct)
      built
    }
    /** The dictionary if an encode has built it, else null. */
    def builtDict: DictBuild.Bytes = built
    def runCount: Int = s.runCount
    def names: Map[Int, String] = BtrConfig.stringNames
    def forced: Option[Int] = cfg.forceString
    def candidates: Array[Int] = AllSchemes
    def enabled(scheme: Int): Boolean = cfg.stringEnabled(scheme)
    def structurallyValid(scheme: Int, depth: Int): Boolean = scheme match {
      case OneValue => s.runCount <= 1
      case Uncompressed => true
      case Dict => depth >= 1 && s.count >= 1
      case Fsst => depth >= 1 && s.count >= 1
      case _ => false
    }
    def rawBound: Long = 1L + 4 + count.toLong * 4 + s.totalLen
    def encodeAs(scheme: Int, out: BufWriter, depth: Int, cfg: BtrConfig, seed: Long): Unit =
      StringCodec.encodeAs(scheme, out, values, count, depth, s, dict, cfg, seed)
    // a rule, not a size race: a repetitive sample goes dict, a unique one
    // with enough bytes goes whole-column FSST
    def screen(depth: Int, est: Array[Long]): Int =
      if (depth >= 1 && cfg.stringEnabled(Dict) && s.sDistinct * 2 <= s.sampleN) Dict
      else if (depth >= 1 && cfg.stringEnabled(Fsst) && s.totalLen > FsstMinBytes &&
        s.sDistinct * 2 > s.sampleN) Fsst
      else Uncompressed
  }

  private def encodeAs(
      scheme: Int,
      out: BufWriter,
      values: Array[Array[Byte]],
      count: Int,
      depth: Int,
      s: StringStats,
      dictionary: => DictBuild.Bytes,
      cfg: BtrConfig,
      seed: Long
  ): Unit = {
    val sub = seed * 6364136223846793005L + 1442695040888963407L
    out.putByte(scheme)
    scheme match {
      case Uncompressed =>
        writeLengths(out, values, count, depth, cfg, sub)
        var i = 0
        while (i < count) { out.putBytes(values(i)); i += 1 }
      case OneValue =>
        val v = if (count > 0) values(0) else Array.emptyByteArray
        out.putInt(v.length)
        out.putBytes(v)
      case Dict =>
        val built = dictionary
        val dict = built.entries
        out.putInt(dict.length)
        // dict blob: lengths cascade + bytes, optionally FSST-compressed
        var dictBytes = 0L
        var j = 0
        while (j < dict.length) { dictBytes += dict(j).length; j += 1 }
        val useFsst = dictBytes >= FsstMinBytes && cfg.stringEnabled(Fsst)
        out.putByte(if (useFsst) 1 else 0)
        if (useFsst) FsstCodec.encodeStrings(out, dict, dict.length, depth - 1, cfg, seed)
        else {
          writeLengths(out, dict, dict.length, depth - 1, cfg, sub)
          j = 0
          while (j < dict.length) { out.putBytes(dict(j)); j += 1 }
        }
        // codes via int cascade (forced RLE-friendly per the reference's
        // string dict, string/DynamicDictionary.cpp:167-189 — our selector
        // picks RLE itself when runs are long)
        IntCodec.encode(out, built.codes, count, 8, depth - 1, cfg, sub + 1)
      case Fsst =>
        FsstCodec.encodeStrings(out, values, count, depth - 1, cfg, seed)
    }
  }

  /** Decode into (lengths, concatenated bytes). */
  // Int-wrap guard for materialized chunk sizes: a clear error beats the
  // ArrayIndexOutOfBounds a silently-wrapped allocation would throw
  private def sizeGuard(total: Long): Int = {
    require(total >= 0 && total <= Int.MaxValue - 16,
      s"btr string chunk materializes to $total bytes (> 2 GiB) — lower btr.blockSize")
    total.toInt
  }

  /** Dictionary view of a DICT/ONE_VALUE chunk: distinct entries plus
    * per-row codes (`codes == null` means constant — every row is
    * `entries(0)`). Null for schemes with no dictionary structure.
    */
  final class DictView(val entries: Array[Array[Byte]], val codes: Array[Long])

  /** Dictionary-preserving decode for the vectorized scan (the Spark
    * analog of the reference's zero-copy string view read,
    * /root/reference/btrblocks/storage/StringPointerArrayViewer.hpp:11-26):
    * DICT chunks yield their distinct entries + codes so the reader can
    * hand Spark a dictionary-encoded ColumnVector instead of
    * materializing every row; ONE_VALUE yields a 1-entry dictionary.
    * Returns null (with `in` unadvanced) for UNCOMPRESSED/FSST — the
    * caller falls back to the materializing [[decode]]. DICT codes land
    * in `codesOut` when given.
    */
  def decodeDictView(in: BufReader, count: Int, codesOut: Array[Long] = null): DictView = {
    val probe = in.duplicate()
    probe.getByte() match {
      case OneValue =>
        val len = probe.getInt()
        val v = probe.getBytes(len)
        new DictView(Array(v), null)
      case Dict =>
        val dictSize = probe.getInt()
        val fsstFlag = probe.getByte()
        val (dictLens, dictBytes) =
          if (fsstFlag == 1) FsstCodec.decodeStrings(probe, dictSize)
          else {
            val dl = readLengths(probe, dictSize)
            var t = 0
            var j = 0
            while (j < dictSize) { t += dl(j); j += 1 }
            (dl, probe.getBytes(t))
          }
        val entries = new Array[Array[Byte]](dictSize)
        var off = 0
        var j = 0
        while (j < dictSize) {
          entries(j) = java.util.Arrays.copyOfRange(dictBytes, off, off + dictLens(j))
          off += dictLens(j)
          j += 1
        }
        val codes = if (codesOut != null) codesOut else new Array[Long](count)
        IntCodec.decodeInto(probe, count, codes)
        new DictView(entries, codes)
      case _ => null
    }
  }

  def decode(in: BufReader, count: Int): (Array[Int], Array[Byte]) = {
    in.getByte() match {
      case Uncompressed =>
        val lens = readLengths(in, count)
        var total = 0L
        var i = 0
        while (i < count) { total += lens(i); i += 1 }
        val bytes = in.getBytes(sizeGuard(total))
        (lens, bytes)
      case OneValue =>
        val len = in.getInt()
        val v = in.getBytes(len)
        val lens = new Array[Int](count)
        java.util.Arrays.fill(lens, len)
        val bytes = new Array[Byte](sizeGuard(len.toLong * count))
        var i = 0
        while (i < count) { System.arraycopy(v, 0, bytes, i * len, len); i += 1 }
        (lens, bytes)
      case Dict =>
        val dictSize = in.getInt()
        val fsstFlag = in.getByte()
        val (dictLens, dictBytes) =
          if (fsstFlag == 1) FsstCodec.decodeStrings(in, dictSize)
          else {
            val dl = readLengths(in, dictSize)
            var t = 0
            var j = 0
            while (j < dictSize) { t += dl(j); j += 1 }
            (dl, in.getBytes(t))
          }
        val dictOffsets = new Array[Int](dictSize + 1)
        var j = 0
        while (j < dictSize) { dictOffsets(j + 1) = dictOffsets(j) + dictLens(j); j += 1 }
        val codes = IntCodec.decode(in, count)
        val lens = new Array[Int](count)
        var total = 0L
        var i = 0
        while (i < count) {
          lens(i) = dictLens(codes(i).toInt)
          total += lens(i)
          i += 1
        }
        val bytes = new Array[Byte](sizeGuard(total))
        var p = 0
        i = 0
        while (i < count) {
          val c = codes(i).toInt
          System.arraycopy(dictBytes, dictOffsets(c), bytes, p, lens(i))
          p += lens(i)
          i += 1
        }
        (lens, bytes)
      case Fsst =>
        FsstCodec.decodeStrings(in, count)
      case other => throw new IllegalStateException(s"bad string scheme $other")
    }
  }

  private def writeLengths(
      out: BufWriter,
      values: Array[Array[Byte]],
      count: Int,
      depth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L
  ): Unit = {
    val lens = new Array[Long](count)
    var i = 0
    while (i < count) { lens(i) = values(i).length.toLong; i += 1 }
    IntCodec.encode(out, lens, count, 4, math.max(depth, 1), cfg, seed)
  }

  private def readLengths(in: BufReader, count: Int): Array[Int] = {
    val l = IntCodec.decode(in, count)
    val out = new Array[Int](count)
    var i = 0
    while (i < count) { out(i) = l(i).toInt; i += 1 }
    out
  }
}

/** Hashable wrapper for byte arrays (map/set keys). */
final class ByteKey(val bytes: Array[Byte]) {
  override val hashCode: Int = java.util.Arrays.hashCode(bytes)
  override def equals(o: Any): Boolean = o match {
    case other: ByteKey => java.util.Arrays.equals(bytes, other.bytes)
    case _ => false
  }
}

object ByteKey {
  val lexicographic: java.util.Comparator[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
}
