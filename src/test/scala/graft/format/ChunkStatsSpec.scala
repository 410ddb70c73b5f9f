package graft.format

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** The footer statistics `ChunkCodec.encode` returns for a scalar chunk
  * (null count, min/max and their exactness, sum and overflow, hasNaN,
  * raw bytes, bloom bits) and the HyperLogLog registers it folds, against
  * a per-row reference kept here: the loop that hashed every non-null
  * row. The encoder takes them from the family stats pass and the
  * chunk's distinct values instead, so every chunk runs under selection
  * modes and forced schemes that reach both of its paths: the built
  * dictionary's entries and the first row of each run.
  */
class ChunkStatsSpec extends AnyFunSuite {
  import ChunkCodec.ChunkStats

  private val NdvP = 12

  /** The per-row footer loop, as `ChunkCodec.encode` ran it before it
    * reused the stats pass and the dictionary.
    */
  private def reference(chunk: ColumnChunk, cfg: BtrConfig, ndvReg: Array[Byte]): ChunkStats = {
    val nullCount = chunk.isNull.take(chunk.count).count(identity)
    val tag = chunk.tag
    var i = 0
    if (PhysType.isIntFamily(tag)) {
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var sum = 0L
      var sumOver = false
      val ndvCap = cfg.bloomMaxBytes
      var bloomOver = false
      val hashes = if (cfg.bloomEnabled) new Bloom.LongSet() else null
      while (i < chunk.count) {
        if (!chunk.isNull(i)) {
          val v = chunk.longs(i)
          if (v < mn) mn = v
          if (v > mx) mx = v
          val ns = sum + v
          if (((sum ^ ns) & (v ^ ns)) < 0) sumOver = true
          sum = ns
          val h = Bloom.hashLong(v)
          if (hashes != null && !bloomOver) {
            if (hashes.size > ndvCap) bloomOver = true else hashes.add(h)
          }
          Hll.add(ndvReg, NdvP, h)
        }
        i += 1
      }
      ChunkStats(nullCount, mn, mx, 0, 0, nullCount < chunk.count,
        rawBytes = chunk.count.toLong * PhysType.physWidth(tag),
        bloom = if (hashes != null && !bloomOver) Bloom.build(hashes, cfg.bloomMaxBytes) else null,
        sumLong = sum, sumOverflow = sumOver)
    } else if (tag == PhysType.Double || tag == PhysType.Float) {
      var mn = java.lang.Double.MAX_VALUE
      var mx = -java.lang.Double.MAX_VALUE
      var has = false
      var sawNaN = false
      while (i < chunk.count) {
        if (!chunk.isNull(i)) {
          val v =
            if (tag == PhysType.Float) java.lang.Float.intBitsToFloat(chunk.longs(i).toInt).toDouble
            else chunk.doubles(i)
          val canon = if (v == 0.0d) 0L else java.lang.Double.doubleToLongBits(v)
          Hll.add(ndvReg, NdvP, Bloom.hashLong(canon))
          if (v.isNaN) sawNaN = true
          else {
            if (java.lang.Double.compare(v, mn) < 0) mn = v
            if (java.lang.Double.compare(v, mx) > 0) mx = v
            has = true
          }
        }
        i += 1
      }
      if (!has && sawNaN) { mn = java.lang.Double.NaN; mx = java.lang.Double.NaN }
      ChunkStats(nullCount, 0, 0, mn, mx, has,
        rawBytes = chunk.count.toLong * (if (tag == PhysType.Float) 4 else 8), hasNaN = sawNaN)
    } else {
      var mn: Array[Byte] = null
      var mx: Array[Byte] = null
      var totalLen = 0L
      val ndvCap = cfg.bloomMaxBytes
      var bloomOver = false
      val hashes = if (cfg.bloomEnabled) new Bloom.LongSet() else null
      while (i < chunk.count) {
        totalLen += chunk.strings(i).length
        if (!chunk.isNull(i)) {
          val v = chunk.strings(i)
          if (mn == null || java.util.Arrays.compareUnsigned(v, mn) < 0) mn = v
          if (mx == null || java.util.Arrays.compareUnsigned(v, mx) > 0) mx = v
          val h = Bloom.hashBytes(v)
          if (hashes != null && !bloomOver) {
            if (hashes.size > ndvCap) bloomOver = true else hashes.add(h)
          }
          Hll.add(ndvReg, NdvP, h)
        }
        i += 1
      }
      val raw = totalLen + 4L * chunk.count
      if (mn == null) ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false, rawBytes = raw)
      else ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = true,
        minBytes = ChunkCodec.truncMin(mn), maxBytes = ChunkCodec.truncMax(mx), rawBytes = raw,
        minExact = mn.length <= ChunkCodec.StringStatLen,
        maxExact = mx.length <= ChunkCodec.StringStatLen,
        bloom = if (hashes != null && !bloomOver) Bloom.build(hashes, cfg.bloomMaxBytes) else null)
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Field-by-field equality; doubles compare by raw bits (-0.0, NaN). */
  private def diff(got: ChunkStats, want: ChunkStats): Seq[String] = {
    def arr[T](a: T, b: T, eq: (T, T) => Boolean): Boolean =
      (a == null && b == null) || (a != null && b != null && eq(a, b))
    val checks = Seq(
      "nullCount" -> (got.nullCount == want.nullCount),
      "minLong" -> (got.minLong == want.minLong),
      "maxLong" -> (got.maxLong == want.maxLong),
      "minDouble" -> (bits(got.minDouble) == bits(want.minDouble)),
      "maxDouble" -> (bits(got.maxDouble) == bits(want.maxDouble)),
      "hasMinMax" -> (got.hasMinMax == want.hasMinMax),
      "minBytes" -> arr[Array[Byte]](got.minBytes, want.minBytes, java.util.Arrays.equals(_, _)),
      "maxBytes" -> arr[Array[Byte]](got.maxBytes, want.maxBytes, java.util.Arrays.equals(_, _)),
      "rawBytes" -> (got.rawBytes == want.rawBytes),
      "hasNaN" -> (got.hasNaN == want.hasNaN),
      "minExact" -> (got.minExact == want.minExact),
      "maxExact" -> (got.maxExact == want.maxExact),
      "bloom" -> arr[Array[Int]](got.bloom, want.bloom, java.util.Arrays.equals(_, _)),
      "sumLong" -> (got.sumLong == want.sumLong),
      "sumOverflow" -> (got.sumOverflow == want.sumOverflow))
    checks.collect { case (name, false) => name }
  }

  private val Sizes = Seq(0, 1, 1000, 65536)

  /** `n` values from `distinct` (shuffled so the first `min(n, d)` rows
    * hold every one of them), then uniform draws.
    */
  private def spread[T](n: Int, distinct: IndexedSeq[T], rnd: Random): IndexedSeq[T] = {
    val head = rnd.shuffle(distinct).take(n)
    head ++ IndexedSeq.fill(n - head.length)(distinct(rnd.nextInt(distinct.length)))
  }

  /** ~10% nulls, or every row / none by shape. */
  private def nullsOf(shape: String, n: Int, rnd: Random): Array[Boolean] = shape match {
    case "all-null" => Array.fill(n)(true)
    case s if s.startsWith("nulls") => Array.fill(n)(rnd.nextInt(10) == 0)
    case _ => new Array[Boolean](n)
  }

  private val LongShapes = Seq("constant", "all-null", "nulls-no-zero", "nulls-with-zero",
    "overflow", "nulls-overflow", "runs", "nulls-runs", "low-card", "d2048", "d2049", "d60000")

  private def longValues(shape: String, n: Int, rnd: Random): IndexedSeq[Long] = shape match {
    case "constant" => IndexedSeq.fill(n)(-77L)
    case "all-null" => IndexedSeq.fill(n)(0L)
    case "nulls-no-zero" => spread(n, (1L to 40L).map(_ * 13), rnd)
    case "nulls-with-zero" => spread(n, (-20L to 20L), rnd)
    case "overflow" | "nulls-overflow" =>
      spread(n, IndexedSeq(Long.MaxValue / 3, Long.MaxValue - 5, Long.MinValue / 2, 9L), rnd)
    case "runs" | "nulls-runs" => (0 until n).map(i => 1000L + i / 300)
    case "low-card" => spread(n, (1L to 7L).map(_ * 1000003L), rnd)
    case d => spread(n, (1 to d.drop(1).toInt).map(k => k.toLong * 7919L - 5000000L), rnd)
  }

  private def longChunk(tag: Int, shape: String, n: Int): ColumnChunk = {
    val rnd = new Random(shape.hashCode ^ n ^ tag)
    val c = new ColumnChunk(tag, n)
    c.isNull = nullsOf(shape, n, rnd)
    val v = longValues(shape, n, rnd).toArray
    // placeholders at null rows, as the writer stores them
    c.longs = Array.tabulate(n)(i => if (c.isNull(i)) 0L else v(i))
    c
  }

  private val DoubleShapes = Seq("constant", "all-null", "nulls-no-zero", "nulls-with-zero",
    "nulls-with-negzero", "nan", "all-nan", "nulls-nan", "runs", "low-card", "d2048", "d2049",
    "d60000")

  private val NaNs = Seq(java.lang.Double.NaN, java.lang.Double.longBitsToDouble(0x7ff0000000000123L),
    java.lang.Double.longBitsToDouble(0xfff8000000000000L))

  private def doubleValues(shape: String, n: Int, rnd: Random): IndexedSeq[Double] = shape match {
    case "constant" => IndexedSeq.fill(n)(2.5)
    case "all-null" => IndexedSeq.fill(n)(0.0)
    case "nulls-no-zero" => spread(n, (1 to 40).map(_ * 0.25), rnd)
    case "nulls-with-zero" => spread(n, (-20 to 20).map(_ * 0.5) :+ -0.0, rnd)
    case "nulls-with-negzero" => spread(n, IndexedSeq(-0.0, 1.5, -2.25, 3.0), rnd)
    case "nan" | "nulls-nan" => spread(n, NaNs.toIndexedSeq ++ IndexedSeq(1.0, -1.0, 0.0), rnd)
    case "all-nan" => IndexedSeq.tabulate(n)(i => NaNs(i % NaNs.length))
    case "runs" => (0 until n).map(i => 10.0 + (i / 300) * 0.01)
    case "low-card" => spread(n, IndexedSeq(0.02, 0.04, 0.06, 0.08, 0.1), rnd)
    case d => spread(n, (1 to d.drop(1).toInt).map(k => k * 0.01 - 100.0), rnd)
  }

  private def doubleChunk(shape: String, n: Int): ColumnChunk = {
    val rnd = new Random(shape.hashCode ^ n)
    val c = new ColumnChunk(PhysType.Double, n)
    c.isNull = nullsOf(shape, n, rnd)
    val v = doubleValues(shape, n, rnd).toArray
    c.doubles = Array.tabulate(n)(i => if (c.isNull(i)) 0.0 else v(i))
    c
  }

  private def floatChunk(shape: String, n: Int): ColumnChunk = {
    val rnd = new Random(shape.hashCode ^ n ^ 5)
    val c = new ColumnChunk(PhysType.Float, n)
    c.isNull = nullsOf(shape, n, rnd)
    val v = doubleValues(shape, n, rnd).toArray
    // NaN rows keep a payload of their double's low bits
    c.longs = Array.tabulate(n)(i =>
      if (c.isNull(i)) 0L
      else if (v(i).isNaN) (0x7fc00000 | (bits(v(i)) & 0xff).toInt).toLong
      else java.lang.Float.floatToRawIntBits(v(i).toFloat).toLong)
    c
  }

  private val StringShapes = Seq("constant", "all-null", "nulls-no-empty", "nulls-with-empty",
    "long-bounds", "runs", "low-card", "d2048", "d2049", "d60000")

  private def stringValues(shape: String, n: Int, rnd: Random): IndexedSeq[Array[Byte]] = {
    val vs: IndexedSeq[String] = shape match {
      case "constant" => IndexedSeq.fill(n)("MAIL")
      case "all-null" => IndexedSeq.fill(n)("")
      case "nulls-no-empty" => spread(n, IndexedSeq("A", "N", "R", "été", "zz"), rnd)
      case "nulls-with-empty" => spread(n, IndexedSeq("", "A", "N", "R"), rnd)
      case "long-bounds" =>
        spread(n, IndexedSeq("aaaaaaaaaaaaaaaaaaaaaaa", "ÿÿÿÿÿÿÿÿÿ",
          "zzzzzzzzzzzzzzzzzzzzzzzzzzz", "m"), rnd)
      case "runs" => (0 until n).map(i => f"${i / 300}%06d")
      case "low-card" => spread(n, IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED"), rnd)
      case d => spread(n, (1 to d.drop(1).toInt).map(k => s"key-$k"), rnd)
    }
    vs.map(_.getBytes(UTF_8))
  }

  private def stringChunk(tag: Int, shape: String, n: Int): ColumnChunk = {
    val rnd = new Random(shape.hashCode ^ n ^ tag)
    val c = new ColumnChunk(tag, n)
    c.isNull = nullsOf(shape, n, rnd)
    val v = stringValues(shape, n, rnd)
    c.strings = Array.tabulate(n)(i => if (c.isNull(i)) Array.emptyByteArray else v(i))
    c
  }

  private def cfgOf(opts: (String, String)*): BtrConfig = BtrConfig.fromOptions(opts.toMap.get)

  /** Selection modes plus every forced scheme of the family that can hold
    * the chunk: Dict builds the dictionary, the rest leave the run path.
    * "no-sketch" turns the bloom off and passes no HLL registers.
    */
  private def modes(family: String): Seq[(String, BtrConfig)] = {
    val names = family match {
      case "int" => BtrConfig.intNames
      case "double" => BtrConfig.doubleNames
      case "string" => BtrConfig.stringNames
    }
    Seq("sample" -> cfgOf(), "tryall" -> cfgOf("btr.selection" -> "tryall"),
      "no-bloom" -> cfgOf("btr.bloom.enabled" -> "false"),
      "no-sketch" -> cfgOf("btr.bloom.enabled" -> "false")) ++
      names.toSeq.sortBy(_._1).map { case (_, name) =>
        s"force-$name" -> cfgOf(s"btr.forceScheme.$family" -> name)
      }
  }

  /** Encode `chunk` under every mode of its family; returns the root
    * scheme ids seen. Fails on any stats or register difference.
    */
  private def check(label: String, chunk: ColumnChunk, family: String): Set[Int] = {
    val schemes = mutable.Set.empty[Int]
    for ((mode, cfg) <- modes(family)) {
      val got = if (mode == "no-sketch") null else Hll.create(NdvP)
      val out = new BufWriter(1 << 16)
      val encoded =
        try Some(ChunkCodec.encode(out, chunk, BtrFile.DefaultCascadeDepth, cfg, 42L, got, NdvP))
        catch { case _: IllegalArgumentException if mode.startsWith("force-") => None }
      encoded.foreach { stats =>
        val want = Hll.create(NdvP)
        val ref = reference(chunk, cfg, want)
        val bad = diff(stats, ref)
        assert(bad.isEmpty, s"$label under $mode: ${bad.mkString(", ")} differ ($stats vs $ref)")
        assert(got == null || java.util.Arrays.equals(got, want),
          s"$label under $mode: HLL registers differ")
        val in = new BufReader(out.result())
        NullMap.decodeWithFlag(in, chunk.count)
        if (chunk.count > 0) schemes += in.getByte()
      }
    }
    schemes.toSet
  }

  test("int chunks: footer stats and HLL registers match the per-row loop") {
    val seen = mutable.Set.empty[Int]
    for (shape <- LongShapes; n <- Sizes)
      seen ++= check(s"int64 $shape n=$n", longChunk(PhysType.Int64, shape, n), "int")
    assert(seen.contains(IntCodec.Dict) && seen.contains(IntCodec.ForBp), seen)
    for (n <- Sizes) check(s"int32 nulls-with-zero n=$n",
      longChunk(PhysType.Int32, "nulls-with-zero", n), "int")
  }

  test("float chunks: footer stats and HLL registers match the per-row loop") {
    val seen = mutable.Set.empty[Int]
    for (shape <- DoubleShapes; n <- Sizes)
      seen ++= check(s"float $shape n=$n", floatChunk(shape, n), "int")
    assert(seen.contains(IntCodec.Dict), seen)
  }

  test("double chunks: footer stats and HLL registers match the per-row loop") {
    val seen = mutable.Set.empty[Int]
    for (shape <- DoubleShapes; n <- Sizes)
      seen ++= check(s"double $shape n=$n", doubleChunk(shape, n), "double")
    assert(seen.contains(DoubleCodec.Dict) && seen.contains(DoubleCodec.Pseudodecimal), seen)
  }

  test("string and binary chunks: footer stats and HLL registers match the per-row loop") {
    val seen = mutable.Set.empty[Int]
    for (tag <- Seq(PhysType.Str, PhysType.Binary); shape <- StringShapes; n <- Sizes)
      seen ++= check(s"tag $tag $shape n=$n", stringChunk(tag, shape, n), "string")
    assert(seen.contains(StringCodec.Dict) && seen.contains(StringCodec.Fsst), seen)
  }
}
