package graft.sources

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dictionary-aware string decode (the Spark analog of the reference's
  * zero-copy dict view, storage/StringPointerArrayViewer.hpp:11-26):
  * DICT/ONE_VALUE chunks reach the ColumnVector as dictionary + ids, and
  * that read must be bit-equal to the materializing decode on the same
  * bytes — every scheme, nulls, multi-byte UTF-8, binary.
  */
class DictDecodeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dict-decode-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/dict-decode-spec/$name"

  private def chunkOf(values: Array[Array[Byte]], nulls: Array[Boolean]): ColumnChunk = {
    val c = new ColumnChunk(PhysType.Str, values.length)
    c.strings = values
    c.isNull = nulls
    c
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("decodeForScan yields a dictionary view for DICT chunks, bit-equal to decode") {
    val n = 4000
    val pool = Array("apple", "banana", "日本語テキスト", "", "cherry-" + "x" * 30)
    val vals = Array.tabulate(n)(i => utf8(pool(i % pool.length)))
    val nulls = Array.tabulate(n)(i => i % 17 == 0)
    (0 until n).foreach(i => if (nulls(i)) vals(i) = Array.emptyByteArray)
    val cfg = BtrConfig.Default.copy(forceString = Some(StringCodec.Dict))
    val out = new BufWriter()
    ChunkCodec.encode(out, chunkOf(vals, nulls), 3, cfg)
    val bytes = out.result()

    val mat = ChunkCodec.decode(new BufReader(bytes), PhysType.Str, n)
    val dict = ChunkCodec.decodeForScan(new BufReader(bytes), PhysType.Str, n)
    assert(dict.dictEntries != null, "DICT chunk must decode to a dictionary view")
    assert(dict.longs != null && dict.longs.length == n)
    // reconstruct rows from the view and compare byte-for-byte
    var off = 0
    var i = 0
    while (i < n) {
      val fromMat = java.util.Arrays.copyOfRange(mat.strBytes, off, off + mat.strLens(i))
      off += mat.strLens(i)
      val fromDict = dict.dictEntries(dict.longs(i).toInt)
      assert(java.util.Arrays.equals(fromMat, fromDict), s"row $i differs")
      assert(mat.isNull(i) == dict.isNull(i))
      i += 1
    }
    // entries are the sorted distinct set — no duplicates
    assert(dict.dictEntries.map(new ByteKey(_)).toSet.size == dict.dictEntries.length)
  }

  test("decodeForScan yields a constant view for ONE_VALUE and falls back otherwise") {
    val n = 100
    val const = Array.fill(n)(utf8("same-value"))
    val noNulls = new Array[Boolean](n)
    val out1 = new BufWriter()
    ChunkCodec.encode(out1, chunkOf(const, noNulls), 3)
    val one = ChunkCodec.decodeForScan(new BufReader(out1.result()), PhysType.Str, n)
    assert(one.dictEntries != null && one.dictEntries.length == 1 && one.longs == null)
    assert(java.util.Arrays.equals(one.dictEntries(0), utf8("same-value")))

    // high-uniqueness chunk → UNCOMPRESSED/FSST → materialized fallback
    val uniq = Array.tabulate(n)(i => utf8(s"unique-value-$i"))
    val out2 = new BufWriter()
    ChunkCodec.encode(out2, chunkOf(uniq, noNulls), 3,
      BtrConfig.Default.copy(forceString = Some(StringCodec.Uncompressed)))
    val flat = ChunkCodec.decodeForScan(new BufReader(out2.result()), PhysType.Str, n)
    assert(flat.dictEntries == null && flat.strBytes != null)
  }

  test("reused scan buffers: a DICT chunk then smaller non-dict chunks of 1 and 0 values") {
    val n = 65536
    val reused = new ChunkCodec.ScanOut
    def enc(c: ColumnChunk, cfg: BtrConfig): Array[Byte] = {
      val out = new BufWriter()
      ChunkCodec.encode(out, c, 3, cfg)
      out.result()
    }
    def ints(count: Int, f: Int => Long) = {
      val c = new ColumnChunk(PhysType.Int64, count)
      c.longs = Array.tabulate(count)(i => f(i))
      c
    }
    // int: the DICT chunk's codes and the later values share one buffer
    val dict = enc(ints(n, i => (i % 7L) * 1000003L), BtrConfig.Default.copy(forceInt = Some(IntCodec.Dict)))
    val d = ChunkCodec.decodeForScan(new BufReader(dict), PhysType.Int64, n, out = reused)
    assert(d.dictLongs != null)
    assert((0 until n).forall(i => d.dictLongs(d.longs(i).toInt) == (i % 7L) * 1000003L))
    for (m <- Seq(1, 0)) {
      val flat = enc(ints(m, i => 5000000L + i), BtrConfig.Default.copy(forceInt = Some(IntCodec.ForBp)))
      val f = ChunkCodec.decodeForScan(new BufReader(flat), PhysType.Int64, m, out = reused)
      assert(f.dictLongs == null && !f.hasNulls)
      assert((0 until m).forall(i => f.longs(i) == 5000000L + i), s"$m values")
    }
    // string: a DICT view's codes, then a materialized chunk of 1 and 0 rows
    val pool = Array("a", "bb", "ccc")
    val sd = enc(chunkOf(Array.tabulate(n)(i => utf8(pool(i % 3))), Array.tabulate(n)(_ % 11 == 0)),
      BtrConfig.Default.copy(forceString = Some(StringCodec.Dict)))
    val sv = ChunkCodec.decodeForScan(new BufReader(sd), PhysType.Str, n, out = reused)
    assert(sv.dictEntries != null && sv.hasNulls)
    assert((0 until n).forall(i =>
      sv.isNull(i) || new String(sv.dictEntries(sv.longs(i).toInt), "UTF-8") == pool(i % 3)))
    for (m <- Seq(1, 0)) {
      val su = enc(chunkOf(Array.tabulate(m)(i => utf8(s"u$i")), new Array[Boolean](m)),
        BtrConfig.Default.copy(forceString = Some(StringCodec.Uncompressed)))
      val u = ChunkCodec.decodeForScan(new BufReader(su), PhysType.Str, m, out = reused)
      assert(u.dictEntries == null && !u.hasNulls && (0 until m).forall(i => !u.isNull(i)))
      assert(new String(u.strBytes, "UTF-8") == (0 until m).map(i => s"u$i").mkString)
    }
  }

  test("dictionary read path is bit-equal to forced-uncompressed read end to end") {
    import spark.implicits._
    // low-cardinality strings (dict fires), sprinkled nulls, empty string
    // as a REAL value, multi-byte UTF-8 — across several row groups
    val df = (0 until 30000).map { i =>
      val s =
        if (i % 13 == 0) null
        else Seq("alpha", "beta", "", "日本語", "gamma-longer-value")(i % 5)
      (i.toLong, s, if (i % 7 == 0) null else s"grp${i % 3}")
    }.toDF("id", "s", "g")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .mode("overwrite").save(tmp("dict_e2e"))
    df.coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .option("btr.forceScheme.string", "uncompressed")
      .mode("overwrite").save(tmp("flat_e2e"))
    val viaDict = spark.read.format("btr").load(tmp("dict_e2e"))
    val viaFlat = spark.read.format("btr").load(tmp("flat_e2e"))
    // dict actually selected on the dict table (else this spec tests nothing)
    val schemes = graft.functions.BtrInspect.describe(spark, tmp("dict_e2e"))
      .select("scheme_tree").collect().map(_.getString(0)).mkString(";")
    assert(schemes.contains("dict"), schemes)
    val a = viaDict.orderBy("id").collect().map(_.toString)
    val b = viaFlat.orderBy("id").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq == df.orderBy("id").collect().map(_.toString).toSeq)
    // operators that consume the vector through codegen: filter + groupBy
    assert(viaDict.filter($"s" === "日本語").count() == df.filter($"s" === "日本語").count())
    val g1 = viaDict.groupBy("s").count().collect().map(_.toString).sorted.toSeq
    val g2 = df.groupBy("s").count().collect().map(_.toString).sorted.toSeq
    assert(g1 == g2)
  }

  test("numeric DICT chunks decode to dictionary views, value-equal to decode") {
    val n = 5000
    val cfg = BtrConfig.Default.copy(forceInt = Some(IntCodec.Dict))
    // ints (low cardinality) with nulls
    val ic = new ColumnChunk(PhysType.Int64, n)
    ic.longs = Array.tabulate(n)(i => (i % 7L) * 1000003L - 42L)
    ic.isNull = Array.tabulate(n)(i => i % 19 == 0)
    val iOut = new BufWriter()
    ChunkCodec.encode(iOut, ic, 3, cfg)
    val iBytes = iOut.result()
    val iMat = ChunkCodec.decode(new BufReader(iBytes), PhysType.Int64, n)
    val iDict = ChunkCodec.decodeForScan(new BufReader(iBytes), PhysType.Int64, n)
    assert(iDict.dictLongs != null, "int DICT chunk must decode to a dictionary view")
    (0 until n).foreach { i =>
      assert(iDict.isNull(i) == iMat.isNull(i))
      if (!iMat.isNull(i))
        assert(iDict.dictLongs(iDict.longs(i).toInt) == iMat.longs(i), s"row $i")
    }
    // doubles: entries are raw bits
    val dcfg = BtrConfig.Default.copy(forceDouble = Some(DoubleCodec.Dict))
    val dc = new ColumnChunk(PhysType.Double, n)
    dc.doubles = Array.tabulate(n)(i => Seq(1.5, -0.0, 3.25, 1e300, 7.75)(i % 5))
    dc.isNull = new Array[Boolean](n)
    val dOut = new BufWriter()
    ChunkCodec.encode(dOut, dc, 3, dcfg)
    val dBytes = dOut.result()
    val dMat = ChunkCodec.decode(new BufReader(dBytes), PhysType.Double, n)
    val dDict = ChunkCodec.decodeForScan(new BufReader(dBytes), PhysType.Double, n)
    assert(dDict.dictLongs != null, "double DICT chunk must decode to a dictionary view")
    (0 until n).foreach { i =>
      val bits = dDict.dictLongs(dDict.longs(i).toInt)
      assert(bits == java.lang.Double.doubleToRawLongBits(dMat.doubles(i)), s"row $i")
    }
  }

  test("numeric dictionary read path end to end, incl. widened int32→long") {
    import spark.implicits._
    val p1 = tmp("num_dict_e2e")
    val rows = (0 until 30000).map { i =>
      (i.toLong, if (i % 11 == 0) None else Some(i % 9), (i % 5) * 2.5, (i % 6).toLong)
    }
    val df = rows.toDF("id", "iv", "dv", "lv")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .option("btr.forceScheme.int", "dict").option("btr.forceScheme.double", "dict")
      .mode("overwrite").save(p1)
    val back = spark.read.format("btr").load(p1)
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
    // codegen consumers over the dictionary-backed vectors
    assert(back.filter($"iv" === 3).count() == df.filter($"iv" === 3).count())
    assert(back.agg(sum($"dv")).head.getDouble(0) == df.agg(sum($"dv")).head.getDouble(0))
    assert(back.groupBy("lv").count().collect().map(_.toString).sorted.toSeq ==
      df.groupBy("lv").count().collect().map(_.toString).sorted.toSeq)
    // widened: int32 dict files under a long column resolve through the
    // dictionary's decodeToLong (no materialized upcast)
    val p2 = tmp("num_dict_widen")
    (0 until 8192).map(i => (i, i % 4)).toDF("id", "k")
      .coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .option("btr.forceScheme.int", "dict").mode("overwrite").save(p2)
    (8192 until 9000).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "k")
      .coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .option("btr.forceScheme.int", "dict").mode("append").save(p2)
    val w = spark.read.format("btr").load(p2)
    assert(w.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(w.count() == 9000)
    assert(w.agg(sum($"k")).head.getLong(0) == (0 until 9000).map(_ % 4).sum.toLong)
  }

  test("binary dict columns and mixed dict/non-dict row groups read correctly") {
    import spark.implicits._
    // first half low-cardinality (dict), second half unique (uncompressed):
    // with blockSize 4096 the same VECTOR sees dict chunks then materialized
    // chunks — the reader must clear the dictionary between groups
    val rows = (0 until 8192).map { i =>
      val s = if (i < 4096) s"k${i % 4}" else s"unique-$i-${"pad" * 5}"
      (i, s, utf8(s))
    }
    val df = rows.toDF("id", "s", "b")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "4096")
      .mode("overwrite").save(tmp("mixed_groups"))
    val back = spark.read.format("btr").load(tmp("mixed_groups"))
    val got = back.orderBy("id").select("s", "b").collect()
    rows.zip(got).foreach { case ((_, s, b), r) =>
      assert(r.getString(0) == s)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), b))
    }
  }
}
