package graft.format

import org.apache.spark.sql.types._

/** Physical type tags for the btr wire format. The reference supports
  * {INTEGER, DOUBLE, STRING} (/root/reference/btrblocks/common/Units.hpp:47-57);
  * we widen to the Spark types present in real lakehouse tables — the
  * integer family all routes through IntCodec, float through DoubleCodec
  * via exact widening, binary through StringCodec.
  */
object PhysType {
  val Bool = 1
  val Int32 = 2
  val Int64 = 3
  val Double = 4
  val Float = 5
  val Str = 6
  val Date = 7 // days since epoch (int)
  val Timestamp = 8 // micros since epoch (long)
  val TimestampNtz = 9
  val Binary = 10
  // array columns: lengths cascade + flattened element stream (embedding
  // vectors and the like travel first-class through the format)
  val ArrFloat = 11
  val ArrDouble = 12
  val ArrInt = 13
  val ArrLong = 14
  // decimal(precision ≤ 18): stored as the unscaled long through the int
  // cascade (scale is schema metadata), so skipping/stats come for free
  val Decimal64 = 15
  // array<string>: lengths cascade + flattened string-element stream
  val ArrStr = 17
  // map<K,V> of scalar key/value types: lengths cascade + TWO flattened
  // element streams, each self-described by a scalar tag byte
  val KvMap = 18
  // struct of scalar leaves: ONE footer column whose chunk blob is
  // self-describing — [u8 leafCount] then per leaf [u8 tag][i32 len]
  // [nullmap + codec payload] — so each leaf compresses under its own
  // scheme selection and a reader can skip unrequested leaves by length
  val Struct = 16
  // array<struct<...>>: per-row lengths cascade + a flattened element
  // stream encoded as a STRUCT column body over the elements — the
  // per-span annotation shape (array<struct<start,end,label>>)
  val ArrStruct = 19
  // array<array<scalar>>: per-row lengths cascade + a flattened element
  // stream encoded as an ARRAY column body over the outer elements (the
  // tokenized-sentences / per-span-embedding shape); inner tag is
  // self-described on the wire
  val ArrArr = 20

  def of(dt: DataType): Int = dt match {
    case BooleanType => Bool
    case IntegerType => Int32
    case LongType => Int64
    case DoubleType => Double
    case FloatType => Float
    case StringType => Str
    case DateType => Date
    case TimestampType => Timestamp
    case TimestampNTZType => TimestampNtz
    case BinaryType => Binary
    case ShortType => Int32
    case ByteType => Int32
    case ArrayType(FloatType, _) => ArrFloat
    case ArrayType(DoubleType, _) => ArrDouble
    case ArrayType(IntegerType, _) => ArrInt
    case ArrayType(LongType, _) => ArrLong
    case ArrayType(StringType, _) => ArrStr
    case ArrayType(inner: ArrayType, _) =>
      // nesting recurses: array<array<scalar>> and deeper
      // (array<array<array<...>>> — token-span embeddings) all ride the
      // same [lengths cascade][self-described element stream] layout;
      // struct elements stay excluded at any depth
      val it = of(inner)
      require(isArrayFamily(it) && it != ArrStruct,
        s"btr: array<array> elements must be arrays of scalars or nested " +
          s"arrays, got ${inner.simpleString}")
      ArrArr
    case ArrayType(st: StructType, _) =>
      require(of(st) == Struct, s"btr: unsupported array element ${st.simpleString}")
      // element structs may nest: struct and array-of-scalar leaves
      // recurse through the element-granularity encode; maps inside
      // array elements stay rejected AT ANY DEPTH (no elem-mode map
      // hold) — and at planning, not the first write task. ArrStruct
      // leaves are already rejected anywhere by of(StructType).
      noNestedMaps("array<struct> element", "", st)
      ArrStruct
    case mt: MapType =>
      val kt = of(mt.keyType)
      require(!isArrayFamily(kt) && kt != Struct && kt != KvMap,
        s"btr: map keys must be scalar types, got ${mt.simpleString}")
      val vt = of(mt.valueType)
      // values may be scalar, array-of-scalar (per-field score lists), or
      // a STRUCT (per-field provenance) whose leaves recurse through the
      // element-granularity encode — nested structs and arrays-of-scalar
      // included, maps excluded at any depth (no elem-mode map hold)
      require(vt != KvMap && vt != ArrStruct && vt != ArrArr,
        s"btr: map values must be scalar, array-of-scalar or struct, got ${mt.simpleString}")
      if (vt == Struct)
        noNestedMaps("map struct-value", "", mt.valueType)
      KvMap
    case d: DecimalType if d.precision <= 18 => Decimal64
    case st: StructType =>
      require(st.fields.nonEmpty, "btr: empty struct type")
      require(st.fields.length <= 255, s"btr: struct has ${st.fields.length} fields (max 255)")
      st.fields.foreach { f =>
        // leaves recurse: scalars, arrays-of-scalar, nested structs AND
        // maps all encode as self-described sub-columns of the parent's
        // blob (a map leaf is a full KvMap body at row granularity)
        val lt = of(f.dataType)
        require(lt != ArrStruct && lt != ArrArr,
          s"btr: struct leaf ${f.name}: ${f.dataType.simpleString} — " +
            "struct-element and nested arrays inside structs are not supported")
      }
      Struct
    case other => throw new UnsupportedOperationException(s"btr: unsupported type $other")
  }

  /** Maps cannot ride at ELEMENT granularity (no elem-mode map hold):
    * reject them anywhere under an element struct — at planning, with
    * the dotted path, not at the first write task.
    */
  private def noNestedMaps(ctx: String, path: String, dt: DataType): Unit = dt match {
    case s: StructType => s.fields.foreach(f =>
      noNestedMaps(ctx, if (path.isEmpty) f.name else s"$path.${f.name}", f.dataType))
    case m: MapType => throw new UnsupportedOperationException(
      s"btr: $ctx leaf $path: ${m.simpleString} — maps are not supported at " +
        "element granularity")
    case _ => ()
  }

  def isArrayFamily(tag: Int): Boolean =
    (tag >= ArrFloat && tag <= ArrLong) || tag == ArrStr || tag == ArrStruct ||
      tag == ArrArr

  /** Element tag of an array family tag. */
  def elemTag(tag: Int): Int = tag match {
    case ArrFloat => Float
    case ArrDouble => Double
    case ArrInt => Int32
    case ArrLong => Int64
    case ArrStr => Str
    case ArrStruct => Struct
    case other => throw new IllegalArgumentException(s"$other")
  }

  /** Array-family hold tag whose element buffers fit a scalar tag (the
    * writer buffers map key/value streams in array-element holds).
    */
  def holdTagOf(scalar: Int): Int = scalar match {
    case Double => ArrDouble
    case Str | Binary => ArrStr
    case _ => ArrLong
  }

  def supported(dt: DataType): Boolean =
    try { of(dt); true }
    catch { case _: UnsupportedOperationException => false }

  /** Natural byte width for raw storage of the int-family value. */
  def physWidth(tag: Int): Int = tag match {
    case Bool => 1
    case Int32 | Date | Float => 4
    case _ => 8
  }

  def isIntFamily(tag: Int): Boolean =
    tag == Bool || tag == Int32 || tag == Int64 || tag == Date ||
      tag == Timestamp || tag == TimestampNtz || tag == Decimal64

  def isStringFamily(tag: Int): Boolean = tag == Str || tag == Binary
}

/** Sanctioned type-widening pairs for schema evolution: an append may
  * widen an existing column (meta records the wide type; old files keep
  * their narrow physical tag and upcast at read), and a narrow append
  * into an already-widened table reads the same way. int→long is free
  * (IntCodec decodes to longs at any width); float→double upcasts bits.
  */
object BtrWidening {
  def widens(fromTag: Int, toTag: Int): Boolean =
    (fromTag == PhysType.Int32 && toTag == PhysType.Int64) ||
      (fromTag == PhysType.Float && toTag == PhysType.Double)

  def widensType(from: DataType, to: DataType): Boolean =
    (from == org.apache.spark.sql.types.IntegerType && to == org.apache.spark.sql.types.LongType) ||
      (from == org.apache.spark.sql.types.FloatType && to == org.apache.spark.sql.types.DoubleType)

  /** Compatible = identical, related by one sanctioned widening, or —
    * for STRUCTS — one side's leaves a named PREFIX of the other's
    * (leaf types recursively compatible): appends may ADD struct leaves
    * at the end exactly like top-level columns, and old chunks read the
    * added leaves as null (each chunk blob self-describes its leaf
    * count). NESTED NULLABILITY is ignored (`asNullable` on both
    * sides): an `array<string>` whose containsNull differs between
    * writes is the same wire layout — element nullmaps always travel —
    * and refusing it would reject byte-identical appends (same for map
    * value nullability and struct leaf nullability).
    */
  def compatible(a: DataType, b: DataType): Boolean =
    allNullable(a) == allNullable(b) || widensType(a, b) || widensType(b, a) ||
      structPrefixCompatible(a, b)

  private def structPrefixCompatible(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      val (short, long) =
        if (x.fields.length <= y.fields.length) (x, y) else (y, x)
      short.fields.zip(long.fields).forall { case (s, l) =>
        s.name == l.name && compatible(s.dataType, l.dataType)
      }
    case _ => false
  }

  /** Recursively force every nested nullability flag true (Spark's
    * `asNullable` is private[sql]). */
  private def allNullable(dt: DataType): DataType = dt match {
    case at: ArrayType => at.copy(elementType = allNullable(at.elementType), containsNull = true)
    case mt: MapType => mt.copy(keyType = allNullable(mt.keyType),
      valueType = allNullable(mt.valueType), valueContainsNull = true)
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** The wider of two compatible types. For structs, the LONGER leaf
    * list wins, shared leaves merge recursively, and added leaves force
    * nullable (pre-evolution chunks read them as null).
    */
  def widest(a: DataType, b: DataType): DataType = (a, b) match {
    case (x: StructType, y: StructType) if structPrefixCompatible(x, y) =>
      val (short, long) =
        if (x.fields.length <= y.fields.length) (x, y) else (y, x)
      StructType(long.fields.zipWithIndex.map { case (l, i) =>
        if (i < short.fields.length)
          l.copy(dataType = widest(short.fields(i).dataType, l.dataType),
            nullable = l.nullable || short.fields(i).nullable)
        else l.copy(nullable = true)
      })
    case _ => if (widensType(a, b)) b else a
  }
}

/** Dense in-memory column chunk (≤65,536 rows), the unit of compression —
  * mirrors InputChunk (/root/reference/btrblocks/storage/Chunk.hpp:72-93).
  * Null rows carry placeholder values (0 / 0.0 / empty) so run/dict stats
  * see dense data, matching the reference's convention.
  */
final class ColumnChunk(val tag: Int, val count: Int) {
  var longs: Array[Long] = _
  var doubles: Array[Double] = _
  var strings: Array[Array[Byte]] = _
  var isNull: Array[Boolean] = new Array[Boolean](count)
  // struct columns: one scalar ColumnChunk per leaf (parent nulls in
  // isNull; a null struct row null-fills every leaf at that position)
  var structLeaves: Array[ColumnChunk] = _
  // map columns: key/value element streams buffered as array-element
  // holds (same grow logic); arrLens carries per-row entry counts
  var mapKeys: ColumnChunk = _
  var mapVals: ColumnChunk = _
  // true scalar tags of the map key/value types (the holds' array-family
  // tags only choose buffers — Int32 keys buffer in an ArrLong hold)
  var mapKeyTag: Int = 0
  var mapValTag: Int = 0
  // array families: per-row element counts + flattened element stream
  // (int-family/float elements in elemLongs, double elements in elemDoubles)
  var arrLens: Array[Int] = _
  var elemLongs: Array[Long] = _
  var elemDoubles: Array[Double] = _
  var elemStrings: Array[Array[Byte]] = _
  var elemNull: Array[Boolean] = _
  var elemCount: Int = 0
  // growable per-entry length stream (map values that are arrays: one
  // length per MAP ENTRY, while elem* buffers hold the flattened
  // sub-elements); lensCount tracks entries appended so far
  var lensCount: Int = 0
  // element-mode struct holds: TRUE tags of the leaf fields, parallel to
  // structLeaves (the leaf holds carry array-family BUFFER tags;
  // asEntryChunk needs the real ones to view them)
  var leafTrueTags: Array[Int] = _

  def ensureLensCapacity(n: Int): Unit = {
    if (arrLens == null || lensNull == null) {
      val cap = math.max(n, 1024)
      if (arrLens == null) arrLens = new Array[Int](cap)
      if (lensNull == null) lensNull = new Array[Boolean](math.max(arrLens.length, cap))
    }
    if (lensCount + n > arrLens.length) {
      var cap = arrLens.length.toLong
      while (cap < lensCount.toLong + n) cap <<= 1
      val capI = math.min(cap, Int.MaxValue - 16L).toInt
      arrLens = java.util.Arrays.copyOf(arrLens, capI)
      lensNull = java.util.Arrays.copyOf(lensNull, capI)
    }
  }

  def ensureElemCapacity(n: Int): Unit = {
    if (elemNull == null) {
      val cap = math.max(n, 1024)
      elemNull = new Array[Boolean](cap)
      if (tag == PhysType.ArrDouble) elemDoubles = new Array[Double](cap)
      else if (tag == PhysType.ArrStr) elemStrings = new Array[Array[Byte]](cap)
      else if (tag == PhysType.ArrStruct) () // element values live in leaf holds
      else elemLongs = new Array[Long](cap)
    } else if (elemCount + n > elemNull.length) {
      val need = elemCount.toLong + n
      require(need <= Int.MaxValue - 16, // same wrap guard as BufWriter.ensure
        s"btr array column: element stream would exceed 2^31 entries ($need)")
      var cap = elemNull.length.toLong
      while (cap < need) cap <<= 1
      val capI = math.min(cap, Int.MaxValue - 16L).toInt
      elemNull = java.util.Arrays.copyOf(elemNull, capI)
      if (elemDoubles != null) elemDoubles = java.util.Arrays.copyOf(elemDoubles, capI)
      if (elemLongs != null) elemLongs = java.util.Arrays.copyOf(elemLongs, capI)
      if (elemStrings != null) elemStrings = java.util.Arrays.copyOf(elemStrings, capI)
    }
  }

  def resetElems(): Unit = {
    elemCount = 0; lensCount = 0
    // element-mode struct leaves (array<struct> holds) carry their own
    // element streams; row-mode struct leaves don't use these counters,
    // so the recursion is always safe. Map-leaf holds carry their entry
    // streams in the key/value sub-holds.
    if (structLeaves != null) structLeaves.foreach(_.resetElems())
    if (mapKeys != null) mapKeys.resetElems()
    if (mapVals != null) mapVals.resetElems()
  }

  // per-entry null flags for the growable length stream (a map value of
  // array type can be null per entry), grown alongside arrLens
  var lensNull: Array[Boolean] = _

  /** View this map-side hold as a standalone column chunk over the map's
    * `ec` entries, under the side's TRUE tag: scalar sides view their
    * element buffers as column buffers; an array-valued side views its
    * per-entry lengths + flattened sub-elements as an array column.
    */
  def asEntryChunk(trueTag: Int, ec: Int): ColumnChunk = {
    val v = new ColumnChunk(trueTag, ec)
    if (PhysType.isArrayFamily(trueTag)) {
      v.isNull = if (lensNull != null) lensNull else new Array[Boolean](math.max(ec, 1))
      v.arrLens = if (arrLens != null) arrLens else new Array[Int](math.max(ec, 1))
      v.elemNull = elemNull
      v.elemLongs = elemLongs
      v.elemDoubles = elemDoubles
      v.elemStrings = elemStrings
      v.elemCount = elemCount
      if (trueTag == PhysType.ArrArr) {
        // a nested-array entry view keeps its own inner stream: the
        // encode recursion reads it through the same mapVals hold shape
        v.mapVals = mapVals
        v.mapValTag = mapValTag
      }
    } else if (trueTag == PhysType.Struct) {
      // struct-valued entries (map values / nested array<struct> element
      // fields): the hold's elemNull is the per-entry struct nullmap and
      // each leaf hold views recursively under its TRUE tag
      v.isNull = if (elemNull != null) elemNull else new Array[Boolean](math.max(ec, 1))
      v.structLeaves = structLeaves.zipWithIndex.map { case (lh, k) =>
        lh.asEntryChunk(leafTrueTags(k), ec)
      }
    } else {
      v.isNull = if (elemNull != null) elemNull else new Array[Boolean](math.max(ec, 1))
      v.longs = elemLongs
      v.doubles = elemDoubles
      v.strings = elemStrings
    }
    v
  }
}

/** Per-column-chunk encode/decode: [nullmap][u8 scheme + payload].
  * Chunk stats (min/max/nullCount) are returned for footer-based skipping.
  */
object ChunkCodec {
  final case class ChunkStats(
      nullCount: Int, minLong: Long, maxLong: Long, minDouble: Double, maxDouble: Double,
      hasMinMax: Boolean, minBytes: Array[Byte] = null, maxBytes: Array[Byte] = null,
      rawBytes: Long = 0L, hasNaN: Boolean = false,
      // string bounds exactness: an untruncated bound is the true chunk
      // min/max (enables string MIN/MAX aggregate pushdown); a truncated
      // one is only a valid skip bound
      minExact: Boolean = false, maxExact: Boolean = false,
      // split-block bloom over distinct value hashes (int/string family),
      // null when disabled or the chunk's cardinality exceeds the budget
      bloom: Array[Int] = null,
      // struct columns: per-leaf stats (file leaf order) for
      // planning-time chunk skipping on leaf predicates; a nested-struct
      // leaf's entry carries its own leafStats (recursive)
      leafStats: Array[ChunkStats] = null,
      // physical tags of the struct leaves, parallel to leafStats (the
      // writer needs them to pick each leaf's footer stat kind)
      leafTags: Array[Int] = null,
      // int-family chunk sum over non-null values (ORC-style) for SUM
      // aggregate pushdown; wrapped on overflow with the flag set (wrap
      // is exact for LongType sums — Spark wraps too — but a decimal sum
      // needs the flag to fall back to a decode)
      sumLong: Long = 0L, sumOverflow: Boolean = false)

  /** Max stored length of string chunk bounds (Parquet-style truncation:
    * a min prefix stays a valid lower bound; a max prefix is incremented at
    * its last non-0xFF byte to stay a valid upper bound). Mirrors the role
    * of the reference's per-chunk StringStats (stats/StringStats.hpp:11-27)
    * with bounded footer cost.
    */
  val StringStatLen = 16

  private[format] def truncMin(b: Array[Byte]): Array[Byte] =
    if (b.length <= StringStatLen) b else java.util.Arrays.copyOf(b, StringStatLen)

  /** Shortest prefix-incremented upper bound, or null when impossible. */
  private[format] def truncMax(b: Array[Byte]): Array[Byte] = {
    if (b.length <= StringStatLen) b
    else {
      val t = java.util.Arrays.copyOf(b, StringStatLen)
      var i = StringStatLen - 1
      while (i >= 0 && t(i) == -1) i -= 1 // 0xFF bytes can't be incremented
      if (i < 0) null
      else { t(i) = (t(i) + 1).toByte; java.util.Arrays.copyOf(t, i + 1) }
    }
  }

  def encode(
      out: BufWriter,
      chunk: ColumnChunk,
      cascadeDepth: Int,
      cfg: BtrConfig = BtrConfig.Default,
      seed: Long = 42L,
      // optional file-level HyperLogLog registers for this column — the
      // footer stats fold each distinct non-null value's hash in (ints
      // and strings reuse the bloom hash)
      ndvReg: Array[Byte] = null,
      ndvP: Int = 0
  ): ChunkStats = {
    val nullCount = NullMap.encode(chunk.isNull, chunk.count, out)
    var i = 0
    val tag = chunk.tag
    if (PhysType.isIntFamily(tag)) {
      val c = new IntCodec.Chunk(chunk.longs, chunk.count, PhysType.physWidth(tag), cfg, seed,
        withSum = true)
      SchemePicker.encodeColumn(c, out, cascadeDepth)
      intStats(chunk, c, nullCount, cfg, ndvReg, ndvP)
    } else if (tag == PhysType.Float) {
      // floats stored as raw bits via the int path (lossless, narrower)
      val c = new IntCodec.Chunk(chunk.longs, chunk.count, 4, cfg, seed)
      SchemePicker.encodeColumn(c, out, cascadeDepth)
      val dict = c.builtDict
      doubleStats(chunk, if (dict == null) null else dict.entries, nullCount, ndvReg, ndvP)
    } else if (tag == PhysType.Double) {
      val c = new DoubleCodec.Chunk(chunk.doubles, chunk.count, cfg, seed)
      SchemePicker.encodeColumn(c, out, cascadeDepth)
      val dict = c.builtDict
      doubleStats(chunk, if (dict == null) null else dict.entries, nullCount, ndvReg, ndvP)
    } else if (tag == PhysType.Struct) {
      // [u8 leafCount] then per leaf [u8 tag][i32 len][<leaf column
      // body>] — each leaf column compresses under its own scheme
      // selection (a constant leaf goes ONE_VALUE while its sibling
      // dictionary-encodes), and the per-leaf length lets a reader skip
      // leaves a pruned projection never asks for. A leaf body is a full
      // recursive [[encode]]: scalar leaves keep the original
      // [nullmap][codec] bytes, nested-struct and array leaves recurse
      // into the same self-describing layout. No struct-level min/max
      // (leaf predicates skip via the recursive leafStats instead).
      val leaves = chunk.structLeaves
      out.putByte(leaves.length)
      var raw = 0L
      val scratch = new BufWriter(1 << 16)
      val leafStats = new Array[ChunkStats](leaves.length)
      val leafTags = new Array[Int](leaves.length)
      // leaves never build blooms (footer leaf entries don't carry them)
      // and never inherit forced schemes (scheme forcing is a top-level
      // column knob; a leaf cascade self-selects)
      val leafCfg = cfg.copy(bloomEnabled = false,
        forceInt = None, forceDouble = None, forceString = None)
      var j = 0
      while (j < leaves.length) {
        val lc = leaves(j)
        scratch.truncate(0)
        val ls = encode(scratch, lc, cascadeDepth, leafCfg, seed + 13L * (j + 1))
        raw += ls.rawBytes
        // suppress the leaf sum: nothing consumes leaf SUM pushdown, and
        // pre-nesting files recorded sumOverflow=true here — keep parity
        leafStats(j) = ls.copy(sumLong = 0L, sumOverflow = true)
        leafTags(j) = lc.tag
        out.putByte(lc.tag)
        out.putInt(scratch.pos)
        out.putBytes(scratch.backing, 0, scratch.pos)
        j += 1
      }
      ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false, rawBytes = raw,
        leafStats = leafStats, leafTags = leafTags)
    } else if (tag == PhysType.KvMap) {
      // [lengths cascade][i32 elemCount][u8 keyTag][<key column body>]
      // [u8 valTag][<val column body>] — the array layout with two
      // self-described streams. A side's body is a recursive [[encode]]
      // over the map ENTRIES: scalar sides keep the original
      // [nullmap][codec] bytes; an array-valued side recurses into the
      // array layout (per-entry lengths + flattened sub-elements).
      val lens = new Array[Long](chunk.count)
      i = 0
      while (i < chunk.count) { lens(i) = chunk.arrLens(i).toLong; i += 1 }
      IntCodec.encode(out, lens, chunk.count, 4, cascadeDepth, cfg, seed)
      val ec = chunk.mapKeys.elemCount // keys are scalar: one element per entry
      out.putInt(ec)
      var raw = 4L * chunk.count
      val sideCfg = cfg.copy(bloomEnabled = false,
        forceInt = None, forceDouble = None, forceString = None)
      Seq(chunk.mapKeys, chunk.mapVals).zipWithIndex.foreach { case (side, si) =>
        val st = if (si == 0) chunk.mapKeyTag else chunk.mapValTag
        out.putByte(st)
        val view = side.asEntryChunk(st, ec)
        val ss = encode(out, view, cascadeDepth, sideCfg, seed + 31 * (si + 1))
        raw += ss.rawBytes
      }
      ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false, rawBytes = raw)
    } else if (tag == PhysType.ArrArr) {
      // [lengths cascade][i32 outerElemCount][u8 innerTag][<array column
      // body over the outer elements>] — the element stream IS an array
      // column (its nullmap doubles as the outer-element nullmap), the
      // exact layout a map's array-valued side uses, minus the keys
      val lens = new Array[Long](chunk.count)
      i = 0
      while (i < chunk.count) { lens(i) = chunk.arrLens(i).toLong; i += 1 }
      IntCodec.encode(out, lens, chunk.count, 4, cascadeDepth, cfg, seed)
      val inner = chunk.mapVals // inner-array hold (lens + flat elements)
      val ec = inner.lensCount
      out.putInt(ec)
      out.putByte(chunk.mapValTag)
      val innerCfg = cfg.copy(bloomEnabled = false,
        forceInt = None, forceDouble = None, forceString = None)
      val view = inner.asEntryChunk(chunk.mapValTag, ec)
      val ss = encode(out, view, cascadeDepth, innerCfg, seed + 7)
      ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false,
        rawBytes = 4L * chunk.count + ss.rawBytes)
    } else if (tag == PhysType.ArrStruct) {
      // [lengths cascade][i32 elemCount][<struct column body over the
      // elements>] — the element stream IS a struct column (its nullmap
      // doubles as the element nullmap), so span-annotation leaves each
      // compress under their own scheme selection like any struct leaf
      val lens = new Array[Long](chunk.count)
      i = 0
      while (i < chunk.count) { lens(i) = chunk.arrLens(i).toLong; i += 1 }
      IntCodec.encode(out, lens, chunk.count, 4, cascadeDepth, cfg, seed)
      val ec = chunk.elemCount
      out.putInt(ec)
      val view = new ColumnChunk(PhysType.Struct, ec)
      view.isNull =
        if (chunk.elemNull != null) chunk.elemNull else new Array[Boolean](math.max(ec, 1))
      view.structLeaves = chunk.structLeaves // caller pre-viewed at count = ec
      val ss = encode(out, view, cascadeDepth, cfg, seed + 7)
      ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false,
        rawBytes = 4L * chunk.count + ss.rawBytes)
    } else if (PhysType.isArrayFamily(tag)) {
      // [lengths cascade][i32 elemCount][element nullmap][element block] —
      // the variable-length layout of the string codec generalized to
      // typed element streams (embedding vectors ride first-class).
      // Forced schemes don't apply here; the sub-blocks self-select.
      val lens = new Array[Long](chunk.count)
      i = 0
      while (i < chunk.count) { lens(i) = chunk.arrLens(i).toLong; i += 1 }
      IntCodec.encode(out, lens, chunk.count, 4, cascadeDepth, cfg, seed)
      out.putInt(chunk.elemCount)
      val eNull = if (chunk.elemNull != null) chunk.elemNull else Array.emptyBooleanArray
      NullMap.encode(eNull, chunk.elemCount, out)
      val et = PhysType.elemTag(tag)
      var raw = 4L * chunk.count
      if (et == PhysType.Double) {
        DoubleCodec.encode(out, chunk.elemDoubles, chunk.elemCount, cascadeDepth, cfg, seed + 7)
        raw += chunk.elemCount.toLong * 8
      } else if (et == PhysType.Str) {
        // string elements ride the string codec whole (DICT/FSST select
        // per element stream — token lists dictionary-encode heavily)
        StringCodec.encode(out, chunk.elemStrings, chunk.elemCount, cascadeDepth, cfg, seed + 7)
        var k = 0
        while (k < chunk.elemCount) { raw += chunk.elemStrings(k).length + 4L; k += 1 }
      } else {
        IntCodec.encode(out, chunk.elemLongs, chunk.elemCount, PhysType.physWidth(et), cascadeDepth, cfg, seed + 7)
        raw += chunk.elemCount.toLong * PhysType.physWidth(et)
      }
      ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false, rawBytes = raw)
    } else {
      val c = new StringCodec.Chunk(chunk.strings, chunk.count, cfg, seed)
      SchemePicker.encodeColumn(c, out, cascadeDepth)
      stringStats(chunk, c, nullCount, cfg, ndvReg, ndvP)
    }
  }

  /* Footer statistics of a root chunk, taken from its family stats pass
   * and its distinct values: the dictionary's entries when an encode
   * built one, else the first non-null row of each run (a repeat adds
   * nothing to a set, a min/max or an HLL register). Null rows hold the
   * placeholder (0, 0.0 or empty), which the dictionary contains; it
   * counts only when a non-null row holds it too.
   */

  /** Feeds value hashes into the chunk's bloom set, up to the budget past
    * which [[Bloom.build]] would reject the set anyway, and into the
    * column's HyperLogLog.
    */
  private final class HashSink(bloom: Boolean, maxBytes: Int, ndvReg: Array[Byte], ndvP: Int) {
    private val set = if (bloom) new Bloom.LongSet() else null
    private var over = false

    /** A hash would still change the bloom set or the registers. */
    def active: Boolean = (set != null && !over) || ndvReg != null

    def add(h: Long): Unit = {
      if (set != null && !over) {
        if (set.size > maxBytes) over = true else set.add(h)
      }
      if (ndvReg != null) Hll.add(ndvReg, ndvP, h)
    }

    def bloomBits: Array[Int] = if (set != null && !over) Bloom.build(set, maxBytes) else null
  }

  /** Some non-null row holds the value 0 (the int/float placeholder). */
  private def nonNullZero(longs: Array[Long], isNull: Array[Boolean], count: Int): Boolean = {
    var i = 0
    while (i < count && (isNull(i) || longs(i) != 0L)) i += 1
    i < count
  }

  private def intStats(chunk: ColumnChunk, c: IntCodec.Chunk, nullCount: Int, cfg: BtrConfig,
      ndvReg: Array[Byte], ndvP: Int): ChunkStats = {
    val n = chunk.count
    val sink = new HashSink(cfg.bloomEnabled, cfg.bloomMaxBytes, ndvReg, ndvP)
    var mn = Long.MaxValue
    var mx = Long.MinValue
    val has = nullCount < n
    if (has) {
      val dict = c.builtDict
      if (dict != null) {
        val e = dict.entries
        val skipZero = nullCount > 0 && !nonNullZero(chunk.longs, chunk.isNull, n)
        var k = 0
        while (k < e.length) {
          val v = e(k)
          if (v != 0L || !skipZero) {
            if (v < mn) mn = v
            mx = v // ascending entries
            if (sink.active) sink.add(Bloom.hashLong(v))
          }
          k += 1
        }
      } else {
        if (nullCount == 0) { mn = c.s.min; mx = c.s.max }
        if (sink.active || nullCount > 0) {
          val longs = chunk.longs
          val isNull = chunk.isNull
          var started = false
          var prev = 0L
          var i = 0
          while (i < n) {
            if (!isNull(i)) {
              val v = longs(i)
              if (!started || v != prev) {
                if (v < mn) mn = v
                if (v > mx) mx = v
                if (sink.active) sink.add(Bloom.hashLong(v))
                started = true
                prev = v
              }
            }
            i += 1
          }
        }
      }
    }
    ChunkStats(nullCount, mn, mx, 0, 0, has,
      rawBytes = n.toLong * PhysType.physWidth(chunk.tag),
      bloom = sink.bloomBits, sumLong = c.s.sum, sumOverflow = c.s.sumOverflow)
  }

  /** Double and float footers. `entries` is the dictionary (raw bits,
    * float bits for a float chunk) or null. NaN is EXCLUDED from min/max
    * and recorded in hasNaN instead: Spark orders NaN above every value,
    * so a NaN-polluted max would otherwise make GreaterThan skipping drop
    * rows. Updates use Double.compare so -0.0 orders below 0.0
    * deterministically (Spark compares them equal, so either tie-choice
    * is within its equality class). The HLL hashes canonical bits: -0.0
    * folds into 0.0 (SQL DISTINCT equates them) and doubleToLongBits
    * canonicalizes every NaN. Doubles carry no bloom.
    */
  private def doubleStats(chunk: ColumnChunk, entries: Array[Long], nullCount: Int,
      ndvReg: Array[Byte], ndvP: Int): ChunkStats = {
    val n = chunk.count
    val isFloat = chunk.tag == PhysType.Float
    val acc = new DoubleAcc(isFloat, ndvReg, ndvP)
    val isNull = chunk.isNull
    if (nullCount < n) {
      if (entries != null) {
        // the placeholder's bits are 0 (+0.0)
        var skipZero = nullCount > 0
        var i = 0
        while (skipZero && i < n) {
          if (!isNull(i) && acc.bitsAt(chunk, i) == 0L) skipZero = false
          i += 1
        }
        var k = 0
        while (k < entries.length) {
          if (entries(k) != 0L || !skipZero) acc.add(entries(k))
          k += 1
        }
      } else {
        var started = false
        var prev = 0L
        var i = 0
        while (i < n) {
          if (!isNull(i)) {
            val b = acc.bitsAt(chunk, i)
            if (!started || b != prev) { acc.add(b); started = true; prev = b }
          }
          i += 1
        }
      }
    }
    // all-NaN chunk: NaN placeholders (every comparison against them is
    // false, so skip checks stay conservative) with the flag set
    if (!acc.has && acc.sawNaN) { acc.mn = java.lang.Double.NaN; acc.mx = java.lang.Double.NaN }
    ChunkStats(nullCount, 0, 0, acc.mn, acc.mx, acc.has,
      rawBytes = n.toLong * (if (isFloat) 4 else 8),
      hasNaN = acc.sawNaN)
  }

  /** Min/max/NaN and HLL state of [[doubleStats]] over raw value bits. */
  private final class DoubleAcc(isFloat: Boolean, ndvReg: Array[Byte], ndvP: Int) {
    var mn: Double = java.lang.Double.MAX_VALUE
    var mx: Double = -java.lang.Double.MAX_VALUE
    var has = false
    var sawNaN = false

    def bitsAt(chunk: ColumnChunk, i: Int): Long =
      if (isFloat) chunk.longs(i) else java.lang.Double.doubleToRawLongBits(chunk.doubles(i))

    def add(bits: Long): Unit = {
      val v =
        if (isFloat) java.lang.Float.intBitsToFloat(bits.toInt).toDouble
        else java.lang.Double.longBitsToDouble(bits)
      if (ndvReg != null) {
        val canon = if (v == 0.0d) 0L else java.lang.Double.doubleToLongBits(v)
        Hll.add(ndvReg, ndvP, Bloom.hashLong(canon))
      }
      if (v.isNaN) sawNaN = true
      else {
        if (java.lang.Double.compare(v, mn) < 0) mn = v
        if (java.lang.Double.compare(v, mx) > 0) mx = v
        has = true
      }
    }
  }

  /** Byte-wise unsigned min/max over non-null values — the same ordering
    * Spark's UTF8String comparison uses, so scan-side skipping is exact.
    */
  private def stringStats(chunk: ColumnChunk, c: StringCodec.Chunk, nullCount: Int,
      cfg: BtrConfig, ndvReg: Array[Byte], ndvP: Int): ChunkStats = {
    val n = chunk.count
    val strings = chunk.strings
    val isNull = chunk.isNull
    val sink = new HashSink(cfg.bloomEnabled, cfg.bloomMaxBytes, ndvReg, ndvP)
    var mn: Array[Byte] = null
    var mx: Array[Byte] = null
    if (nullCount < n) {
      val dict = c.builtDict
      if (dict != null) {
        // ascending entries; the empty placeholder sorts first
        val e = dict.entries
        var skipEmpty = nullCount > 0
        var i = 0
        while (skipEmpty && i < n) {
          if (!isNull(i) && strings(i).length == 0) skipEmpty = false
          i += 1
        }
        var k = 0
        while (k < e.length) {
          val v = e(k)
          if (v.length != 0 || !skipEmpty) {
            if (mn == null) mn = v
            mx = v
            if (sink.active) sink.add(Bloom.hashBytes(v))
          }
          k += 1
        }
      } else {
        var prev: Array[Byte] = null
        var i = 0
        while (i < n) {
          if (!isNull(i)) {
            val v = strings(i)
            if (prev == null || !java.util.Arrays.equals(v, prev)) {
              if (mn == null || java.util.Arrays.compareUnsigned(v, mn) < 0) mn = v
              if (mx == null || java.util.Arrays.compareUnsigned(v, mx) > 0) mx = v
              if (sink.active) sink.add(Bloom.hashBytes(v))
              prev = v
            }
          }
          i += 1
        }
      }
    }
    val raw = c.s.totalLen + 4L * n // bytes + i32 offsets
    if (mn == null) ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = false, rawBytes = raw)
    else ChunkStats(nullCount, 0, 0, 0, 0, hasMinMax = true,
      minBytes = truncMin(mn), maxBytes = truncMax(mx), rawBytes = raw,
      // ≤ StringStatLen bounds are stored untruncated — exact by
      // construction (truncMin/truncMax return them unchanged)
      minExact = mn.length <= StringStatLen, maxExact = mx.length <= StringStatLen,
      bloom = sink.bloomBits)
  }

  /** Decoded column chunk ready to be copied into a ColumnVector;
    * hasNulls == false enables null-check-free bulk copies. For array
    * tags, longs/doubles hold the flattened ELEMENT stream and arrLens
    * the per-row element counts.
    */
  final class Decoded(
      val count: Int,
      val isNull: Array[Boolean],
      val hasNulls: Boolean,
      val longs: Array[Long],
      val doubles: Array[Double],
      val strLens: Array[Int],
      val strBytes: Array[Byte],
      val arrLens: Array[Int] = null,
      val elemIsNull: Array[Boolean] = null,
      val elemHasNulls: Boolean = false,
      val elemCount: Int = 0,
      // dictionary view (scan-side only): distinct string entries; when
      // set, `longs` holds the per-row codes (null codes == constant)
      val dictEntries: Array[Array[Byte]] = null,
      // numeric dictionary view (scan-side only): distinct entries as the
      // stored longs (double chunks: raw bits); `longs` holds the codes
      val dictLongs: Array[Long] = null,
      // struct columns: one scalar Decoded per leaf (file order), with
      // the leaf tags; null entries = leaves skipped by projection
      val structLeaves: Array[Decoded] = null,
      val structTags: Array[Int] = null
  )

  /** Decode a struct chunk's leaves. `want` restricts decoding to those
    * leaf indices (null = all): unrequested leaves SKIP by their recorded
    * length — a pruned projection of a wide struct reads only the bytes
    * it uses. Skipped entries are null in the result. Leaves decode
    * recursively: a nested-struct or array leaf resolves through the
    * same [[decode]] recursion the top level uses. `forScan` keeps DICT
    * leaf chunks as dictionary views (the vector fill and late
    * materialization consume them exactly like top-level columns —
    * low-cardinality struct leaves skip per-row materialization).
    */
  private def decodeStructLeaves(in: BufReader, count: Int,
      want: Array[Boolean], forScan: Boolean = false): (Array[Decoded], Array[Int]) = {
    val leafCount = in.getByte()
    val leaves = new Array[Decoded](leafCount)
    val tags = new Array[Int](leafCount)
    var j = 0
    while (j < leafCount) {
      val lt = in.getByte()
      val len = in.getInt()
      tags(j) = lt
      if (want != null && (j >= want.length || !want(j))) in.skip(len)
      else {
        val end = in.pos + len
        leaves(j) = if (forScan) decodeForScan(in, lt, count) else decode(in, lt, count)
        // leaves share one reader: a dict VIEW decode may leave trailing
        // block bytes unconsumed (it defers entry materialization) — the
        // recorded length re-aligns the next leaf. Over-consumption is a
        // codec bug; rewinding would silently mis-decode every later
        // leaf, so fail loudly instead.
        require(in.pos <= end,
          s"btr: struct leaf $j (tag $lt) decode consumed ${in.pos - (end - len)} " +
            s"bytes of a $len-byte body")
        in.skip(end - in.pos)
      }
      j += 1
    }
    (leaves, tags)
  }

  /** `wantValueLeaves` (KvMap / ArrStruct only): restrict decoding of
    * the STRUCT value side (map) or the element struct (array<struct>)
    * to those leaf indices — a pruned projection skips unrequested
    * leaves by their recorded length, like struct columns.
    */
  def decode(in: BufReader, tag: Int, count: Int,
      wantValueLeaves: Array[Boolean] = null): Decoded = {
    val (isNull, hasNulls) = NullMap.decodeWithFlag(in, count)
    if (tag == PhysType.Struct) {
      val (leaves, tags) = decodeStructLeaves(in, count, null)
      return new Decoded(count, isNull, hasNulls, null, null, null, null,
        structLeaves = leaves, structTags = tags)
    }
    if (PhysType.isIntFamily(tag) || tag == PhysType.Float) {
      val longs = IntCodec.decode(in, count)
      new Decoded(count, isNull, hasNulls, longs, null, null, null)
    } else if (tag == PhysType.Double) {
      val doubles = DoubleCodec.decode(in, count)
      new Decoded(count, isNull, hasNulls, null, doubles, null, null)
    } else if (tag == PhysType.KvMap) {
      val lensL = IntCodec.decode(in, count)
      val lens = new Array[Int](count)
      var i = 0
      while (i < count) { lens(i) = lensL(i).toInt; i += 1 }
      val elemCount = in.getInt()
      // the key/value streams decode as Decodeds over the map entries —
      // the reader fills map child vectors through the same recursion the
      // struct leaves use; an array-valued side decodes through the
      // array branch (per-entry lengths + flattened sub-elements)
      val sides = new Array[Decoded](2)
      val tags = new Array[Int](2)
      var si = 0
      while (si < 2) {
        val st = in.getByte()
        tags(si) = st
        sides(si) =
          if (si == 1 && st == PhysType.Struct && wantValueLeaves != null) {
            // pruned struct-value projection: decode only requested
            // value leaves (skip-by-length), by file leaf index
            val (vNull, vHas) = NullMap.decodeWithFlag(in, elemCount)
            val (leaves, ltags) = decodeStructLeaves(in, elemCount, wantValueLeaves)
            new Decoded(elemCount, vNull, vHas, null, null, null, null,
              structLeaves = leaves, structTags = ltags)
          } else decode(in, st, elemCount)
        si += 1
      }
      new Decoded(count, isNull, hasNulls, null, null, null, null, lens,
        null, false, elemCount, structLeaves = sides, structTags = tags)
    } else if (tag == PhysType.ArrArr) {
      val lensL = IntCodec.decode(in, count)
      val lens = new Array[Int](count)
      var i = 0
      while (i < count) { lens(i) = lensL(i).toInt; i += 1 }
      val ec = in.getInt()
      val it = in.getByte()
      // the element stream decodes as an ARRAY column over the outer
      // elements; its row nullmap is the outer-element nullmap
      val innerDec = decode(in, it, ec)
      new Decoded(count, isNull, hasNulls, null, null, null, null, lens,
        innerDec.isNull, innerDec.hasNulls, ec,
        structLeaves = Array(innerDec), structTags = Array(it))
    } else if (tag == PhysType.ArrStruct) {
      val lensL = IntCodec.decode(in, count)
      val lens = new Array[Int](count)
      var i = 0
      while (i < count) { lens(i) = lensL(i).toInt; i += 1 }
      val elemCount = in.getInt()
      // the element stream is a struct column body: its nullmap is the
      // element nullmap, its leaves the per-element field streams
      // (pruned element projections skip unrequested leaves by length)
      val elemDec =
        if (wantValueLeaves != null) {
          val (eNull, eHas) = NullMap.decodeWithFlag(in, elemCount)
          val (leaves, ltags) = decodeStructLeaves(in, elemCount, wantValueLeaves)
          new Decoded(elemCount, eNull, eHas, null, null, null, null,
            structLeaves = leaves, structTags = ltags)
        } else decode(in, PhysType.Struct, elemCount)
      new Decoded(count, isNull, hasNulls, null, null, null, null, lens,
        elemDec.isNull, elemDec.hasNulls, elemCount,
        structLeaves = elemDec.structLeaves, structTags = elemDec.structTags)
    } else if (PhysType.isArrayFamily(tag)) {
      val lensL = IntCodec.decode(in, count)
      val lens = new Array[Int](count)
      var i = 0
      while (i < count) { lens(i) = lensL(i).toInt; i += 1 }
      val elemCount = in.getInt()
      val (eNull, eHas) = NullMap.decodeWithFlag(in, elemCount)
      if (PhysType.elemTag(tag) == PhysType.Double) {
        val elems = DoubleCodec.decode(in, elemCount)
        new Decoded(count, isNull, hasNulls, null, elems, null, null, lens, eNull, eHas, elemCount)
      } else if (PhysType.elemTag(tag) == PhysType.Str) {
        // strLens/strBytes carry the ELEMENT stream (arrLens present
        // distinguishes the array view from a plain string column)
        val (eLens, eBytes) = StringCodec.decode(in, elemCount)
        new Decoded(count, isNull, hasNulls, null, null, eLens, eBytes, lens, eNull, eHas, elemCount)
      } else {
        val elems = IntCodec.decode(in, elemCount)
        new Decoded(count, isNull, hasNulls, elems, null, null, null, lens, eNull, eHas, elemCount)
      }
    } else {
      val (lens, bytes) = StringCodec.decode(in, count)
      new Decoded(count, isNull, hasNulls, null, null, lens, bytes)
    }
  }

  /** Grow-only decode outputs one scan column reuses from chunk to chunk
    * (the reader keeps one per required column). A [[Decoded]] built on
    * them is valid only until the next decode into the same set, and its
    * arrays may be longer than its `count`: consumers read `[0, count)`.
    */
  final class ScanOut {
    private var nullsBuf: Array[Boolean] = _
    private var longsBuf: Array[Long] = _
    private var doublesBuf: Array[Double] = _
    def nulls(n: Int): Array[Boolean] = {
      if (nullsBuf == null || nullsBuf.length < n) nullsBuf = new Array[Boolean](n)
      nullsBuf
    }
    def longs(n: Int): Array[Long] = {
      if (longsBuf == null || longsBuf.length < n) longsBuf = new Array[Long](n)
      longsBuf
    }
    def doubles(n: Int): Array[Double] = {
      if (doublesBuf == null || doublesBuf.length < n) doublesBuf = new Array[Double](n)
      doublesBuf
    }
  }

  /** Scan-side decode: identical to [[decode]] except DICT chunks keep
    * their dictionary structure (entries + codes) instead of
    * materializing every row — the reader hands Spark a
    * dictionary-encoded ColumnVector. For strings that cuts the dominant
    * per-row byte-copy cost; for the numeric families it halves the
    * vector fill (4-byte ids vs 8-byte values) and defers entry lookups
    * to access time, so rows a late-materialization filter rejects never
    * resolve. Booleans stay materialized (Spark vectors don't consult
    * dictionaries for getBoolean).
    *
    * `out` (optional) makes a top-level scalar column decode into reused
    * buffers: its null flags, non-dict long and double values and
    * dictionary codes. Struct, map and array columns and string values
    * still allocate.
    */
  def decodeForScan(in: BufReader, tag: Int, count: Int,
      wantLeaves: Array[Boolean] = null, out: ScanOut = null): Decoded = {
    if (tag == PhysType.Struct) {
      val (isNull, hasNulls) = NullMap.decodeWithFlag(in, count)
      val (leaves, tags) = decodeStructLeaves(in, count, wantLeaves, forScan = true)
      return new Decoded(count, isNull, hasNulls, null, null, null, null,
        structLeaves = leaves, structTags = tags)
    }
    val scalar = PhysType.isStringFamily(tag) || tag == PhysType.Double ||
      (PhysType.isIntFamily(tag) && tag != PhysType.Bool) || tag == PhysType.Float
    if (!scalar) {
      return if (tag == PhysType.KvMap || tag == PhysType.ArrStruct)
        // wantLeaves names the VALUE-struct (map) / element-struct
        // (array<struct>) leaves to keep
        decode(in, tag, count, wantValueLeaves = wantLeaves)
      else decode(in, tag, count)
    }
    val (isNull, hasNulls) =
      NullMap.decodeWithFlag(in, count, if (out == null) null else out.nulls(count))
    // codes and non-dict values share the column's long buffer: a chunk
    // is one or the other
    val longsOut = if (out == null) null else out.longs(count)
    if (PhysType.isStringFamily(tag)) {
      val view = StringCodec.decodeDictView(in, count, longsOut)
      if (view != null)
        new Decoded(count, isNull, hasNulls, view.codes, null, null, null,
          dictEntries = view.entries)
      else {
        val (lens, bytes) = StringCodec.decode(in, count)
        new Decoded(count, isNull, hasNulls, null, null, lens, bytes)
      }
    } else if (tag == PhysType.Double) {
      val view = DoubleCodec.decodeDictView(in, count, longsOut)
      if (view != null)
        new Decoded(count, isNull, hasNulls, view.codes, null, null, null,
          dictLongs = view.entries)
      else {
        val doubles = if (out == null) new Array[Double](count) else out.doubles(count)
        DoubleCodec.decodeInto(in, count, doubles)
        new Decoded(count, isNull, hasNulls, null, doubles, null, null)
      }
    } else {
      val view = IntCodec.decodeDictView(in, count, longsOut)
      if (view != null)
        new Decoded(count, isNull, hasNulls, view.codes, null, null, null,
          dictLongs = view.entries)
      else {
        val longs = if (longsOut == null) new Array[Long](count) else longsOut
        IntCodec.decodeInto(in, count, longs)
        new Decoded(count, isNull, hasNulls, longs, null, null, null)
      }
    }
  }
}
