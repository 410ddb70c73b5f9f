package graft.format

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class FsstSpec extends AnyFunSuite {

  private def s(str: String): Array[Byte] = str.getBytes("UTF-8")

  private def roundTrip(values: Array[Array[Byte]]): Int = {
    val out = new BufWriter()
    FsstCodec.encodeStrings(out, values, values.length, 2)
    val blob = out.result()
    val (lens, bytes) = FsstCodec.decodeStrings(new BufReader(blob), values.length)
    var off = 0
    var i = 0
    while (i < values.length) {
      val got = java.util.Arrays.copyOfRange(bytes, off, off + lens(i))
      assert(java.util.Arrays.equals(got, values(i)), s"mismatch at $i")
      off += lens(i)
      i += 1
    }
    blob.length
  }

  test("fsst round-trips low-entropy text and compresses it") {
    val rnd = new Random(42)
    val words = Array("compression", "columnar", "spark", "vector", "batch", "scan", "data", "query")
    val values = Array.fill(2000)(s(Seq.fill(8 + rnd.nextInt(10))(words(rnd.nextInt(words.length))).mkString(" ")))
    val raw = values.map(_.length).sum
    val size = roundTrip(values)
    assert(size < raw * 6 / 10, s"fsst $size vs raw $raw — expected < 60%")
  }

  test("fsst round-trips adversarial inputs") {
    roundTrip(Array(s(""), s("a"), s(""), s("ab")))
    roundTrip(Array.empty[Array[Byte]])
    // all 256 byte values incl. the escape byte 255
    val all = Array.tabulate(256)(i => Array(i.toByte))
    roundTrip(all)
    val rnd = new Random(7)
    roundTrip(Array.fill(500)({ val b = new Array[Byte](rnd.nextInt(50)); rnd.nextBytes(b); b }))
    // unicode
    roundTrip(Array(s("日本語テキストのサンプル"), s("más allá"), s("𝄞 music")))
  }

  test("string codec picks fsst for high-uniqueness large text and round-trips") {
    val rnd = new Random(9)
    val words = Array("the", "data", "lake", "engine", "runs", "fast", "scan", "filter")
    val values = Array.tabulate(2000)(i =>
      s(s"doc$i " + Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" ")))
    val out = new BufWriter()
    StringCodec.encode(out, values, values.length, 3)
    val blob = out.result()
    assert(blob(0).toInt == StringCodec.Fsst, s"expected FSST, got scheme ${blob(0)}")
    val (lens, bytes) = StringCodec.decode(new BufReader(blob), values.length)
    var off = 0
    for (i <- values.indices) {
      assert(java.util.Arrays.equals(java.util.Arrays.copyOfRange(bytes, off, off + lens(i)), values(i)))
      off += lens(i)
    }
    val raw = values.map(_.length + 4).sum
    assert(blob.length < raw / 2, s"fsst-in-codec $blob.length vs $raw")
  }

  test("writer NATURALLY selects fsst on URL-shaped columns and beats dict on bytes") {
    // the end-to-end must-win proof: a high-uniqueness URL column (the
    // q_fsst_strings oracle shape) through the ordinary write path — no
    // forced scheme — must (a) select FSST per the reference gate
    // (unique ≥ non-null/2 AND >16 KiB, scheme/string/Fsst.cpp:119-127),
    // (b) produce fewer bytes than forced-dict AND forced-uncompressed,
    // (c) round-trip byte-exactly
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val df = (0 until 30000).map { i =>
      (i.toLong, s"https://cdn.example.com/assets/bucket-${i % 7}/item-${i * 37 % 9973}" +
        s"-${i % 211}/v${i % 5}?session=$i&trace=${i * 2654435761L}")
    }.toDF("id", "url")
    def bytesOf(dir: String): Long =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_"))
        .map(_.length).sum
    val base = "/tmp/btr-fsst-win"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    df.coalesce(1).write.format("btr").mode("overwrite").save(s"$base/natural")
    df.coalesce(1).write.format("btr").mode("overwrite")
      .option("btr.forceScheme.string", "dict").save(s"$base/dict")
    df.coalesce(1).write.format("btr").mode("overwrite")
      .option("btr.forceScheme.string", "uncompressed").save(s"$base/raw")
    // (a) telemetry: the url column's chunks report an fsst scheme tree
    val schemes = graft.functions.BtrInspect.describe(spark, s"$base/natural")
      .filter(org.apache.spark.sql.functions.col("column") === "url")
      .select("scheme_tree").collect().map(_.getString(0))
    assert(schemes.nonEmpty && schemes.forall(_.contains("fsst")),
      s"natural selection must pick fsst for every url chunk: ${schemes.distinct.mkString(";")}")
    // (b) bytes: fsst strictly beats dict and uncompressed on this corpus
    val (nat, dict, raw) = (bytesOf(s"$base/natural"), bytesOf(s"$base/dict"), bytesOf(s"$base/raw"))
    assert(nat < dict, s"fsst must beat dict on unique URLs: fsst=$nat dict=$dict")
    assert(nat < raw * 7 / 10, s"fsst must compress: fsst=$nat raw=$raw")
    // (c) byte-exact round-trip through the scan
    val back = spark.read.format("btr").load(s"$base/natural")
      .orderBy("id").select("url").as[String].collect()
    val want = df.orderBy("id").select("url").as[String].collect()
    assert(back.sameElements(want), "fsst round-trip must be byte-exact")
  }

  test("vector kernel and scalar fallback decode identically (capability flag)") {
    // one decode path: the SWAR sizing kernel and the VarHandle expansion
    // (FsstVectorKernel.java — plain java.base; the incubator Vector API
    // variant was measured and rejected for its cold-path interpreter
    // cliff), with the scalar sizing walk for the tail past the kernel's
    // cursor; the decode must reproduce the input byte for byte
    val rnd = new scala.util.Random(99)
    val vals = Array.fill(5000)(
      s"https://host-${rnd.nextInt(40)}.example/p/${rnd.nextInt(100000)}ÿ${rnd.nextLong()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new BufWriter(1 << 18)
    FsstCodec.encodeStrings(out, vals, vals.length, 2)
    val (lens, bytes) = FsstCodec.decodeStrings(new BufReader(out.result()), vals.length)
    assert(java.util.Arrays.equals(lens, vals.map(_.length)), "decoded lengths must match the input")
    assert(java.util.Arrays.equals(bytes, vals.flatMap(x => x)), "decode must reproduce the input")
  }

  test("corrupt codes fail loudly through BOTH kernels") {
    val vals = Array.fill(200)("plainplainplain".getBytes("UTF-8"))
    val out = new BufWriter(1 << 14)
    FsstCodec.encodeStrings(out, vals, vals.length, 2)
    val enc = out.result()
    // replace a code byte with an out-of-table code (tables here train
    // far fewer than 254 symbols): mid-payload, where the SWAR sizing
    // kernel's block path sees it, and as the last byte, which only the
    // scalar tail walk reaches; the ~1KB comp payload sits at the end of
    // enc
    for (at <- Seq(enc.length - 100, enc.length - 1)) {
      val corrupted = java.util.Arrays.copyOf(enc, enc.length)
      corrupted(at) = 250.toByte
      intercept[java.io.IOException] {
        FsstCodec.decodeStrings(new BufReader(corrupted), vals.length)
      }
    }
  }
}
