package graft.format

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Pins the bytes scheme selection writes. Every chunk of a fixed input
  * set goes through `ChunkCodec.encode` under each selection mode
  * (sample, tryall, full, formula-only estimates, the double opt-in
  * pool) and under every forced scheme of the chunk's family; the
  * SHA-256 of each chunk's bytes folds into one digest per (mode, input
  * group). A forced scheme that cannot hold a chunk digests as
  * "rejected". The pinned digests were computed before the three
  * per-family pickers became one [[SchemePicker]], so any change to the
  * bytes any mode writes fails here and names the mode and group.
  *
  * Inputs: the BI ratio corpus (`graft.tools.BiCorpus`, 131,072 rows,
  * two chunks per column) and synthetic int, float, double and string
  * chunks of 0, 1, 1,000 and 65,536 values in the shapes the picker
  * treats specially (constant, all-null, run-dominated, near-constant,
  * sorted, outlier-heavy, NaN/-0.0, empty strings).
  */
class SchemePickerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("scheme-picker-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private final case class Input(tag: Int, count: Int, isNull: Array[Boolean],
      longs: Array[Long] = null, doubles: Array[Double] = null,
      strings: Array[Array[Byte]] = null) {
    def chunk: ColumnChunk = {
      val c = new ColumnChunk(tag, count)
      c.isNull = isNull
      c.longs = longs
      c.doubles = doubles
      c.strings = strings
      c
    }
  }

  private def family(tag: Int): String =
    if (tag == PhysType.Double) "double"
    else if (tag == PhysType.Str) "string"
    else "int"

  private val Sizes = Seq(0, 1, 1000, 65536)

  private def noNulls(n: Int) = new Array[Boolean](n)

  private def ints(shape: String, n: Int): Input = {
    val rnd = new Random(shape.hashCode ^ n)
    val isNull = noNulls(n)
    val v: Array[Long] = shape match {
      case "constant" => Array.fill(n)(42L)
      case "all-null" => java.util.Arrays.fill(isNull, true); new Array[Long](n)
      case "run-dominated" => Array.tabulate(n)(i => (i / 100).toLong)
      case "near-constant" => Array.tabulate(n)(i => if (i % 20 == 0) (i % 50).toLong else 7L)
      case "sorted" => Array.iterate(1000L, n)(_ + rnd.nextInt(16))
      case "outliers" => Array.fill(n)(
        if (rnd.nextInt(100) == 0) rnd.nextLong() & 0xffffffffffL else rnd.nextInt(1024).toLong)
      case "random" => Array.fill(n)(rnd.nextLong())
    }
    Input(PhysType.Int64, n, isNull, longs = v)
  }

  private def floats(shape: String, n: Int): Input = {
    val rnd = new Random(shape.hashCode ^ n)
    val f: Array[Float] = shape match {
      case "constant" => Array.fill(n)(2.5f)
      case "decimals" => Array.fill(n)(rnd.nextInt(10000) / 100.0f)
      case "random" => Array.fill(n)(rnd.nextFloat() * 1e6f)
    }
    Input(PhysType.Float, n, noNulls(n),
      longs = f.map(x => java.lang.Float.floatToRawIntBits(x).toLong))
  }

  private def doubles(shape: String, n: Int): Input = {
    val rnd = new Random(shape.hashCode ^ n)
    val isNull = noNulls(n)
    val specials = Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, java.lang.Double.longBitsToDouble(0x7ff8000000000123L), 1.0)
    val v: Array[Double] = shape match {
      case "constant" => Array.fill(n)(1.5)
      case "all-null" => java.util.Arrays.fill(isNull, true); new Array[Double](n)
      case "run-dominated" => Array.tabulate(n)(i => (i / 100) * 0.5)
      case "near-constant" => Array.tabulate(n)(i => if (i % 20 == 0) (i % 50) * 1.25 else 0.0)
      case "sorted" => Array.iterate(10.0, n)(x => math.round((x + rnd.nextInt(50) / 100.0) * 100) / 100.0)
      case "outliers" => Array.fill(n)(
        if (rnd.nextInt(100) == 0) rnd.nextDouble() * 1e300 else rnd.nextInt(10000) / 100.0)
      case "nan-negzero" => Array.fill(n)(specials(rnd.nextInt(specials.length)))
      case "decimals" => Array.fill(n)(rnd.nextInt(100000) / 100.0)
      case "random" => Array.fill(n)(rnd.nextDouble() * 1e18)
    }
    Input(PhysType.Double, n, isNull, doubles = v)
  }

  private def strings(shape: String, n: Int): Input = {
    val rnd = new Random(shape.hashCode ^ n)
    val isNull = noNulls(n)
    val v: Array[String] = shape match {
      case "constant" => Array.fill(n)("abc")
      case "all-null" => java.util.Arrays.fill(isNull, true); Array.fill(n)("")
      case "run-dominated" => Array.tabulate(n)(i => s"v${i / 100}")
      case "near-constant" => Array.tabulate(n)(i => if (i % 20 == 0) s"x${i % 50}" else "same")
      case "sorted" => Array.tabulate(n)(i => f"k$i%08d")
      case "outliers" => Array.fill(n)(
        if (rnd.nextInt(100) == 0) rnd.alphanumeric.take(200).mkString else s"a${rnd.nextInt(10)}")
      case "empty" => Array.fill(n)("")
      case "half-empty" => Array.fill(n)(if (rnd.nextBoolean()) "" else s"val-${rnd.nextInt(300)}")
      case "urls" => Array.fill(n)(
        s"https://cdn.example.com/assets/${rnd.nextLong().toHexString}/item?page=${rnd.nextInt(100)}")
    }
    Input(PhysType.Str, n, isNull, strings = v.map(_.getBytes(UTF_8)))
  }

  private def synthetic(gen: (String, Int) => Input, shapes: String*): Seq[Input] =
    for (shape <- shapes; n <- Sizes) yield gen(shape, n)

  private lazy val groups: Seq[(String, Seq[Input])] = Seq(
    "bi" -> biCorpus,
    "int" -> synthetic(ints, "constant", "all-null", "run-dominated", "near-constant",
      "sorted", "outliers", "random"),
    "float" -> synthetic(floats, "constant", "decimals", "random"),
    "double" -> synthetic(doubles, "constant", "all-null", "run-dominated", "near-constant",
      "sorted", "outliers", "nan-negzero", "decimals", "random"),
    "string" -> synthetic(strings, "constant", "all-null", "run-dominated", "near-constant",
      "sorted", "outliers", "empty", "half-empty", "urls"))

  /** The BI corpus as 65,536-row chunks, null rows holding placeholders. */
  private def biCorpus: Seq[Input] = {
    val df = graft.tools.BiCorpus.generate(spark, rows = 131072)
    val rows = df.collect()
    val chunk = 65536
    for {
      (f, c) <- df.schema.fields.toSeq.zipWithIndex
      off <- 0 until rows.length by chunk
    } yield {
      val slice = rows.slice(off, math.min(rows.length, off + chunk))
      val n = slice.length
      val isNull = slice.map(_.isNullAt(c))
      f.dataType match {
        case IntegerType => Input(PhysType.Int32, n, isNull,
          longs = slice.map(r => if (r.isNullAt(c)) 0L else r.getInt(c).toLong))
        case LongType => Input(PhysType.Int64, n, isNull,
          longs = slice.map(r => if (r.isNullAt(c)) 0L else r.getLong(c)))
        case DoubleType => Input(PhysType.Double, n, isNull,
          doubles = slice.map(r => if (r.isNullAt(c)) 0.0 else r.getDouble(c)))
        case StringType => Input(PhysType.Str, n, isNull,
          strings = slice.map(r => if (r.isNullAt(c)) Array.emptyByteArray else r.getString(c).getBytes(UTF_8)))
      }
    }
  }

  private def cfgOf(opts: (String, String)*): BtrConfig = BtrConfig.fromOptions(opts.toMap.get)

  private val allNames =
    (BtrConfig.intByName.keySet ++ BtrConfig.doubleByName.keySet ++ BtrConfig.stringByName.keySet)
      .toSeq.sorted.mkString(",")

  private val modes: Seq[(String, BtrConfig)] = Seq(
    "sample" -> cfgOf(),
    "tryall" -> cfgOf("btr.selection" -> "tryall"),
    "full" -> cfgOf("btr.selection" -> "full"),
    "formula" -> BtrConfig.Default.copy(measuredEstimate = false),
    "optin" -> cfgOf("btr.schemes" -> allNames))

  private def forcedModes(fam: String): Seq[(String, BtrConfig)] = {
    val names = fam match {
      case "int" => BtrConfig.intNames
      case "double" => BtrConfig.doubleNames
      case "string" => BtrConfig.stringNames
    }
    names.toSeq.sortBy(_._1).map { case (_, name) =>
      s"force-$fam-$name" -> cfgOf(s"btr.forceScheme.$fam" -> name)
    }
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** (mode → digest) for one group: each chunk's SHA-256 folded in order. */
  private def digests(inputs: Seq[Input]): Map[String, String] = {
    val folds = scala.collection.mutable.LinkedHashMap.empty[String, MessageDigest]
    for ((in, c) <- inputs.zipWithIndex) {
      val seed = (c.toLong << 16) ^ in.count
      for ((mode, cfg) <- modes ++ forcedModes(family(in.tag))) {
        val out = new BufWriter(1 << 16)
        val chunkDigest =
          try {
            ChunkCodec.encode(out, in.chunk, BtrFile.DefaultCascadeDepth, cfg, seed)
            MessageDigest.getInstance("SHA-256").digest(out.result())
          } catch {
            case _: IllegalArgumentException if mode.startsWith("force-") => "rejected".getBytes(UTF_8)
          }
        folds.getOrElseUpdate(mode, MessageDigest.getInstance("SHA-256")).update(chunkDigest)
      }
    }
    folds.map { case (m, d) => m -> hex(d.digest()) }.toMap
  }

  private val expected: Map[String, Map[String, String]] = Map(
    "bi" -> Map(
      "force-double-alp" ->
        "ed48f088fddeca898ac2058522cd5c14cdd0dfa357b4cbd8563879967457d8b3",
      "force-double-dict" ->
        "ec16269db1f2357755b7b27390ac8a2c08b96f6200973295b493af07e6a18684",
      "force-double-doublebp" ->
        "29980d6da175c6e70f884da05bfccaef82715fda07b6427057f562f054777d22",
      "force-double-frequency" ->
        "a41de351159f233a00a1ffe13a397690514ab07b8fa07c2bc48c439f1471ac45",
      "force-double-onevalue" ->
        "738a04ef6f0c6463ff88d48986ef7d7fd19fe12434680700beb9033136972c71",
      "force-double-pseudodecimal" ->
        "e08dd1955d679998e434f856f7d038f344ad29f070874783eb3d7164eac44833",
      "force-double-rle" ->
        "3fc06f29efba8e8b9bb549e9c812947280b785c5bab94ffb494e770816c22a28",
      "force-double-uncompressed" ->
        "b2242cee45adf975fdfa7b2b8283e5b35209efd47f5dc02929e82c7b115d20c0",
      "force-int-deltabp" ->
        "0554fa0c8925f8b43784dfb38f26a267da4419e5c5c3884c771fcd646d6a93f7",
      "force-int-dict" ->
        "3280cecfb7b568240cfbc2981afd4282fb9ea3454eba05d19f3f8ed03ab1cf0b",
      "force-int-forbp" ->
        "e09efc443298ee2b76942b56a28a78444fb060d6ab85a8900e41bc03551a3abf",
      "force-int-frequency" ->
        "42eb58d9b68b2c376cfa3a169ebef7ad793fd5c2e5a951bae6277bb43ccca2f2",
      "force-int-onevalue" ->
        "d61635b4ed5dce1d1deb5315ee73dd5afede5436b534ae186f1ed34ec75c30b7",
      "force-int-pfor" ->
        "e51c9cf00738398aef0c20eb618597b255913ae060786a4ab196baa29c10da0d",
      "force-int-rle" ->
        "ea125fb31fa82877e714a72b842484a7860968a8641bd33e29ce6916c01b17e5",
      "force-int-uncompressed" ->
        "b459f909173d1814f10e1aac8b3bea0130ce5cc9a7c47cfabafd3643a25e4f8b",
      "force-string-dict" ->
        "be73935bafbefcfdfca3824398639f3409d4c08802a4a6aa9d2ccd9fe05eefc2",
      "force-string-fsst" ->
        "3b946a2e109c517b8265e4d13688adde24848408e5bd559f9da98f10b6a7c273",
      "force-string-onevalue" ->
        "19a6bf5a56c3c76252e8517364d041d76d81b457004cb8dd05d41c1147579520",
      "force-string-uncompressed" ->
        "af8e42734055ccdc021e29b6cc111d42491179ce8583e38f00e85d789d685b76",
      "formula" ->
        "ef634213f3c8f98eb094c98cc2fc26e0ea282a2b236af0f60135c42e84575965",
      "full" ->
        "5f6b7c869eb64597ab9dde4050d42d4fcfd7862d3f1eca0bc6b3ff56e740db89",
      "optin" ->
        "034c1fc2e0196c5fb1accd17b232d92cd01743175049d25e692641297d5b5e5c",
      "sample" ->
        "edc93808e22bb8ca9f80e47a5712bdad9470699b6fead542aa8247e974877b0d",
      "tryall" ->
        "bd2e4594df086e236d9f9831b7a3c525d5298ace5399e2a5ac7074b15d9ff277"),
    "int" -> Map(
      "force-int-deltabp" ->
        "7d3d97babe946e8e133564eb18be0f98817c059cecc9152a3d9c47014804e3fe",
      "force-int-dict" ->
        "20e4499abb106de3f92b3194059d2b89738cd0a710da0735c2b6410aea3844a3",
      "force-int-forbp" ->
        "baf8e6518fca0b70b1ae0399bbad849547fb5a5c28e6276c84cc98d822b28e69",
      "force-int-frequency" ->
        "9a968e0145b4b04de7001bd220f402cc41171a1b382f1797a45f67f5ccd6f581",
      "force-int-onevalue" ->
        "a18a49f56921cb28063bcba100f03c8693735e84ac44bf3904daf6be0d659cd6",
      "force-int-pfor" ->
        "b02fde2a798c6dcb782f7330c71b7fbefbf07b67523f179a46501b33d2d57e47",
      "force-int-rle" ->
        "b453b748f0dd3dd17c77ff6750a67c64aadd2afd702f210c8e4b4315a1ea3092",
      "force-int-uncompressed" ->
        "07dcaf7d694997a72f5499badbaecde3e8a22e7158d99f6f88e40c88c7a6c4d5",
      "formula" ->
        "59816b825dc78932798a7c611b6eafcc90f15e263b72c494a4a22ccbbc84b2e4",
      "full" ->
        "59816b825dc78932798a7c611b6eafcc90f15e263b72c494a4a22ccbbc84b2e4",
      "optin" ->
        "42a229b2ddcd005eee2f83feeda1812fd367d0a1f42e1e1e5a0d0543d119de0d",
      "sample" ->
        "42a229b2ddcd005eee2f83feeda1812fd367d0a1f42e1e1e5a0d0543d119de0d",
      "tryall" ->
        "afd2b964c16df71e5f3f4f58011cab42dc51b3644268fbd542ba9442e017c161"),
    "float" -> Map(
      "force-int-deltabp" ->
        "a3c482ac9d4bd7954fdcd9af0eb2a6762a97b57905fb0df8cb6171684dceed3b",
      "force-int-dict" ->
        "b35a88f7bcd4b24715c2cb90b3529243a104d2062fa8480a79145a71621e2a96",
      "force-int-forbp" ->
        "fe485b30d218b90c136c9fd34f7ada7d4afe6aef0f702cf40d3424b214e043e9",
      "force-int-frequency" ->
        "c96755f2f1d616667b162248a97179841f627332439b5cb8e5565c8aa90e37b9",
      "force-int-onevalue" ->
        "bcad8dc5b95d80ccf3663640c1d7c194d44543dd73773661aee35c86295deda4",
      "force-int-pfor" ->
        "4c930c99fffc08598cdae961d6c4203968bd369ccb205e51e2bdc197c6cd664c",
      "force-int-rle" ->
        "b39c27057494586abbfae0ab1ec72191c7cc92f9ee34df88247fad8721584a5d",
      "force-int-uncompressed" ->
        "7b89e2c8972e6eaf4715390147c6843eb3e54c70e2163a12857d12bcc9ebe06f",
      "formula" ->
        "c4d28ca61514beeec7a880ecc488ff6bd338dda4e0d3fd5913da5defdaea3bb1",
      "full" ->
        "c4d28ca61514beeec7a880ecc488ff6bd338dda4e0d3fd5913da5defdaea3bb1",
      "optin" ->
        "c4d28ca61514beeec7a880ecc488ff6bd338dda4e0d3fd5913da5defdaea3bb1",
      "sample" ->
        "c4d28ca61514beeec7a880ecc488ff6bd338dda4e0d3fd5913da5defdaea3bb1",
      "tryall" ->
        "c1339046b07b7d2c117fffa4e84b0b84af4097d17a5c0d6e65b7ce67cf1528ce"),
    "double" -> Map(
      "force-double-alp" ->
        "5c3e62a64dbc45cf1bd11567cc3eb318c485100f1b7f789d0392c31a44c78edc",
      "force-double-dict" ->
        "745c6f5ac0cd667c2ea2cf2ae527594b9ef61d4e578ed762ddeddae1e74f5db6",
      "force-double-doublebp" ->
        "7ca2dfce1e06f67eda78ac97e203862d6ef9152bd79cf9706577da58ad2ca409",
      "force-double-frequency" ->
        "8db0566533492cf5679c780d045fd81a575a95faf2ff813951a20030ba9fc829",
      "force-double-onevalue" ->
        "6d1b710f0dda9f80831c8ec595b48ae1170508c0c1b6601de54ead93a4af6991",
      "force-double-pseudodecimal" ->
        "8751d12779fa5ae1a1538d2512ca619d9d4e58208cdb6206caf5bd66e8721b7f",
      "force-double-rle" ->
        "77512b9c18d4842a218d319dbe888770a350891394b17ccdba1dc5f2a51ceb6f",
      "force-double-uncompressed" ->
        "c9bf3e8717bf0d8a06a0cf8cb5ae44bf5072eee70d284324f4803f68b40154a4",
      "formula" ->
        "c0b14db1bef3d0ad3269982832beac8edcbf31a6cac72232c4e096b462121362",
      "full" ->
        "9301b6aaa0fffef3960325146513f7d1df7560badbe14d74024a9de4e40fc402",
      "optin" ->
        "653ae00b1004c920a3e1904fb67ebb00182662ad626e74b27081a0583467b3d6",
      "sample" ->
        "486847eec774e238daa229f1716e2a0229cffafe40ce088a7131e9b498cce272",
      "tryall" ->
        "1cf128618f3aef9c1de6af4eaa2ac03ca624ba5967169f6e303b5424d1296656"),
    "string" -> Map(
      "force-string-dict" ->
        "8d7bfc25ea06e38a67cae0b69967b5b39bafbd13e33a5f7659185ee8d0c86129",
      "force-string-fsst" ->
        "e4e7d48ce1df40f99db7cd2eaea0e9c94f7647632d820645a8a7985deb7adb06",
      "force-string-onevalue" ->
        "71d9b30bc7187a4fb1251a6b75b490463eaed9d15a3c600fcd62311511ade076",
      "force-string-uncompressed" ->
        "e4c566e42d7249e7aebec9e2ac8174928a0087080aec75b06dc978e6b0176e9e",
      "formula" ->
        "b0d0b55849fa074a1b069f9a64535ce23710a40d7be0a1290ddf7602363c5cd9",
      "full" ->
        "b0d0b55849fa074a1b069f9a64535ce23710a40d7be0a1290ddf7602363c5cd9",
      "optin" ->
        "ce8df208b4ba930cf63f5733f2ffe7f81910f8bfc7a951f5e590e679fe401ba5",
      "sample" ->
        "ce8df208b4ba930cf63f5733f2ffe7f81910f8bfc7a951f5e590e679fe401ba5",
      "tryall" ->
        "60c3b5b6a4e27da8cbf7fb3f1a030b29db2c91a81ca35f059dd87303b2393674"))

  for (group <- Seq("bi", "int", "float", "double", "string"))
    test(s"$group chunks encode to the pinned bytes under every mode and forced scheme") {
      val got = digests(groups.toMap.apply(group))
      val want = expected.getOrElse(group, Map.empty)
      val bad = got.keySet.union(want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
      assert(bad.isEmpty,
        s"$group: digests differ for ${bad.mkString(", ")}; the full table now reads\n" +
          got.toSeq.sortBy(_._1).map { case (k, v) => s"""      "$k" -> "$v",""" }.mkString("\n"))
    }

  test("a constant chunk does not escalate to try-all and keeps its OneValue bytes") {
    val values = Array.fill(65536)(42L)
    val before = EscalationTelemetry.snapshot()
    val out = new BufWriter()
    IntCodec.encode(out, values, values.length, 8, 3)
    val after = EscalationTelemetry.snapshot()
    assert(after.runDomChunks == before.runDomChunks, s"$before -> $after")
    assert(after.nearConstChunks == before.nearConstChunks, s"$before -> $after")
    val expected = new BufWriter()
    expected.putByte(IntCodec.OneValue)
    expected.putLong(42L)
    assert(out.result().toSeq == expected.result().toSeq)
    // exhaustive selection keeps the same 9 bytes
    val tried = new BufWriter()
    IntCodec.encode(tried, values, values.length, 8, 3, BtrConfig.Default.copy(tryAll = true))
    assert(tried.result().toSeq == expected.result().toSeq)
  }
}
