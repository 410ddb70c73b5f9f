package graft.format

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.core.io.SerializedString
import com.fasterxml.jackson.core.io.CharacterEscapes
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DecimalNode, ObjectNode}
import com.fasterxml.jackson.databind.util.RawValue
import graft.format.BtrTableMeta.{ColumnStats, Meta, SwapGroup}
import graft.sources.BtrLog.Entry
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** The one JSON codec for btr's metadata files, on Jackson's tree model:
  *
  *  - `_btr_meta.json` — table schema and policy ([[Meta]]);
  *  - `_btr_log/v*.json` — snapshot-log entries ([[Entry]]);
  *  - swap journals, intents, done and dv-pending markers ([[SwapGroup]]s);
  *  - `_btr_stats.json` — commit-time ingest stats ([[ColumnStats]], one
  *    object per line);
  *  - the streaming source's checkpoint file log (a string array).
  *
  * Every file is compact, keeps its keys in the order written here, and
  * escapes control characters as `\u00xx`. Parsing is strict: a torn,
  * truncated or mistyped body throws instead of reading as defaults, and
  * a key is only ever read at its own level (a column's field metadata
  * inside `schema` can never be mistaken for a table-level key).
  */
object BtrJson {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  // Jackson writes \n, \t, \r, \b and \f as short escapes and other control
  // characters as upper-case \u00XX; the lower-case \u00xx form for every
  // one of them is what readers of older btr builds decode
  private val writer = mapper.writer(new CharacterEscapes {
    private val codes = {
      val t = CharacterEscapes.standardAsciiEscapesForJSON()
      (0 until 32).foreach(t(_) = CharacterEscapes.ESCAPE_CUSTOM)
      t
    }
    override def getEscapeCodesForAscii: Array[Int] = codes
    override def getEscapeSequence(ch: Int) = new SerializedString(f"\\u$ch%04x")
  })

  private def render(n: JsonNode): String = writer.writeValueAsString(n)

  private def parse(json: String): JsonNode = {
    val n = mapper.readTree(json)
    require(n != null && !n.isMissingNode, "btr json: empty body")
    n
  }

  private def parseObject(json: String): JsonNode = {
    val n = parse(json)
    require(n.isObject, s"btr json: expected an object, got ${n.getNodeType}")
    n
  }

  /** Whole-file read; `FileNotFoundException` when the file is absent. */
  def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  /** Atomically visible publish through the store's commit primitive
    * (temp + rename, or one PUT): a concurrent reader sees the old body
    * or the new one, never a truncated file.
    */
  def publish(fs: FileSystem, p: Path, json: String): Unit =
    BtrCommitProtocol.forFs(fs).put(fs, p, json.getBytes(UTF_8))

  // ---- typed reads: absent = None, present with the wrong type throws ----

  private def field[T](o: JsonNode, key: String, what: String)(
      ok: JsonNode => Boolean)(get: JsonNode => T): Option[T] =
    Option(o.get(key)).map { v =>
      require(ok(v), s"btr json: '$key' must be $what, got $v")
      get(v)
    }

  private def required[T](key: String)(v: Option[T]): T =
    v.getOrElse(throw new IllegalArgumentException(s"btr json: missing '$key'"))

  private def long(o: JsonNode, key: String): Option[Long] =
    field(o, key, "an integer")(_.isIntegralNumber)(_.longValue)

  private def int(o: JsonNode, key: String): Option[Int] =
    field(o, key, "an int")(v => v.isIntegralNumber && v.canConvertToInt)(_.intValue)

  private def double(o: JsonNode, key: String): Option[Double] =
    field(o, key, "a number")(_.isNumber)(_.doubleValue)

  private def str(o: JsonNode, key: String): Option[String] =
    field(o, key, "a string")(_.isTextual)(_.textValue)

  private def bool(o: JsonNode, key: String): Option[Boolean] =
    field(o, key, "a boolean")(_.isBoolean)(_.booleanValue)

  private def elements(a: JsonNode): Seq[JsonNode] = a.elements().asScala.toSeq

  private def strs(o: JsonNode, key: String): Option[Seq[String]] =
    field(o, key, "an array of strings")(a =>
      a.isArray && elements(a).forall(_.isTextual))(a => elements(a).map(_.textValue))

  private def longs(o: JsonNode, key: String): Option[Seq[Long]] =
    field(o, key, "an array of integers")(a =>
      a.isArray && elements(a).forall(_.isIntegralNumber))(a => elements(a).map(_.longValue))

  private def strArray(xs: Iterable[String]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  private def longArray(xs: Iterable[Long]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(x => a.add(x))
    a
  }

  // ---- _btr_meta.json -----------------------------------------------------

  /** Optional keys appear only when set, `schema` (Spark's StructType JSON,
    * verbatim) is always last.
    */
  def meta(m: Meta): String = {
    val o = mapper.createObjectNode()
      .put("version", BtrFile.Version)
      .put("blockSize", m.blockSize)
      .put("cascade", m.cascade)
    if (m.retainRemoved) o.put("retainRemoved", true)
    m.logRetention.foreach(o.put("logRetention", _))
    if (m.deletionVectors) o.put("deletionVectors", true)
    m.dvPurgeThreshold.foreach(o.put("dvPurgeThreshold", _))
    if (m.clusterBy.nonEmpty) o.set[ObjectNode]("clusterBy", strArray(m.clusterBy))
    o.set[ObjectNode]("partitionCols", strArray(m.partitionCols))
    o.putRawValue("schema", new RawValue(m.schema.json))
    render(o)
  }

  def parseMeta(json: String): Meta = {
    val o = parseObject(json)
    val schema = required("schema")(Option(o.get("schema")))
    Meta(
      schema = DataType.fromJson(render(schema)).asInstanceOf[StructType],
      blockSize = int(o, "blockSize").getOrElse(BtrFile.DefaultBlockSize),
      cascade = int(o, "cascade").getOrElse(BtrFile.DefaultCascadeDepth),
      partitionCols = strs(o, "partitionCols").getOrElse(Nil),
      retainRemoved = bool(o, "retainRemoved").getOrElse(false),
      logRetention = int(o, "logRetention"),
      deletionVectors = bool(o, "deletionVectors").getOrElse(false),
      dvPurgeThreshold = double(o, "dvPurgeThreshold"),
      clusterBy = strs(o, "clusterBy").getOrElse(Nil))
  }

  // ---- _btr_log/v*.json ---------------------------------------------------

  /** Full entries carry `files` + parallel `sizes`, delta entries `add` +
    * `addSizes` + `remove`; an unknown size is written as -1.
    */
  def logEntry(e: Entry): String = {
    val o = mapper.createObjectNode()
      .put("version", e.version)
      .put("ts", e.tsMillis)
      .put("action", e.action)
    def sized(files: Seq[String], key: String, sizesKey: String): Unit = {
      o.set[ObjectNode](key, strArray(files))
      o.set[ObjectNode](sizesKey, longArray(files.map(f => e.sizes.getOrElse(f, -1L))))
    }
    if (e.isDelta) {
      sized(e.add, "add", "addSizes")
      o.set[ObjectNode]("remove", strArray(e.remove))
    } else sized(e.files, "files", "sizes")
    e.txnApp.foreach(o.put("txnApp", _))
    e.txnVer.foreach(o.put("txnVer", _))
    render(o)
  }

  def parseLogEntry(json: String): Entry = {
    val o = parseObject(json)
    // sizes parallel to their names; legacy entries carry none
    def sized(names: Seq[String], sizesKey: String): Map[String, Long] =
      longs(o, sizesKey) match {
        case Some(s) if s.length == names.length => names.zip(s).filter(_._2 >= 0).toMap
        case _ => Map.empty
      }
    val v = required("version")(long(o, "version"))
    val ts = required("ts")(long(o, "ts"))
    val action = required("action")(str(o, "action"))
    val txnApp = str(o, "txnApp")
    val txnVer = long(o, "txnVer")
    strs(o, "add") match {
      case Some(add) =>
        Entry(v, ts, action, Nil, isDelta = true, add = add,
          remove = strs(o, "remove").getOrElse(Nil), sizes = sized(add, "addSizes"),
          txnApp = txnApp, txnVer = txnVer)
      case None =>
        val files = required("files")(strs(o, "files"))
        Entry(v, ts, action, files, sizes = sized(files, "sizes"),
          txnApp = txnApp, txnVer = txnVer)
    }
  }

  // ---- swap journals, intents, done and dv-pending markers ----------------

  def swapGroups(groups: Seq[SwapGroup]): String = {
    val o = mapper.createObjectNode()
    val arr = o.putArray("groups")
    groups.foreach { g =>
      val go = arr.addObject().put("dir", g.dir)
      go.set[ObjectNode]("finals", strArray(g.finals))
      go.set[ObjectNode]("sources", strArray(g.sources))
    }
    render(o)
  }

  def parseSwapGroups(json: String): Seq[SwapGroup] = {
    val o = parseObject(json)
    val groups = required("groups")(
      field(o, "groups", "an array")(_.isArray)(elements))
    groups.map { g =>
      require(g.isObject, s"btr json: swap group must be an object, got $g")
      SwapGroup(required("dir")(str(g, "dir")), required("finals")(strs(g, "finals")),
        required("sources")(strs(g, "sources")))
    }
  }

  // ---- _btr_stats.json ----------------------------------------------------

  /** One object per line; `ratio` keeps four decimals. */
  def stats(cols: Seq[ColumnStats]): String =
    cols.map { c =>
      // a DecimalNode set directly keeps its scale (put would strip zeros)
      render(mapper.createObjectNode()
        .put("column", c.column)
        .put("rows", c.rows)
        .put("nulls", c.nulls)
        .put("raw_bytes", c.raw_bytes)
        .put("compressed_bytes", c.compressed_bytes)
        .set[ObjectNode]("ratio", DecimalNode.valueOf(java.math.BigDecimal.valueOf(c.ratio)
          .setScale(4, java.math.RoundingMode.HALF_UP)))) + "\n"
    }.mkString

  def parseStats(json: String): Seq[ColumnStats] =
    json.split('\n').toSeq.filter(_.trim.nonEmpty).map { line =>
      val o = parseObject(line)
      def n(key: String): Long = required(key)(long(o, key))
      ColumnStats(required("column")(str(o, "column")), n("rows"), n("nulls"),
        n("raw_bytes"), n("compressed_bytes"),
        required("ratio")(double(o, "ratio")))
    }

  // ---- streaming source checkpoint file log -------------------------------

  def names(files: Seq[String]): String = render(strArray(files))

  def parseNames(json: String): Seq[String] = {
    val a = parse(json)
    require(a.isArray && elements(a).forall(_.isTextual),
      "btr json: file-log entry must be an array of strings")
    elements(a).map(_.textValue)
  }
}
