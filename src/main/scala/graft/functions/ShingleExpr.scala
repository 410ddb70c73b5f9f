package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass distinct word-n-gram shingling over a raw UTF8String.
  *
  * Semantically identical to
  * `array_distinct(transform(sequence(...), i => array_join(slice(split(
  * trim(text), "\\s+"), i+1, n), " ")))` — it calls the same
  * `UTF8String.trim`/`UTF8String.split` the built-ins use — but runs as
  * ONE codegen-participating expression instead of four nested
  * higher-order functions, which are CodegenFallback: interpreted per
  * row, boxing every element. On the sf0.1 documents table this is the
  * difference between shingling dominating the MinHash pipeline and
  * shingling costing about as much as the scan.
  */
object ShingleUtil {
  private val WS = UTF8String.fromString("\\s+")
  private val SPACE = UTF8String.fromString(" ")
  private val EMPTY: ArrayData = new GenericArrayData(Array.empty[Any])

  def wordShingles(text: UTF8String, n: Int): ArrayData = wordShingles(text, n, true)

  def wordShingles(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    // null text → empty array: `when(size(null) >= n, ...)` is null-false,
    // so the declarative form falls to its empty-array otherwise-branch
    if (text == null) return EMPTY
    val toks = text.trim().split(WS, -1)
    if (toks.length < n) return EMPTY
    val buf = new Array[UTF8String](n)
    if (distinct) {
      val out = new java.util.LinkedHashSet[UTF8String] // first-occurrence order, like array_distinct
      var i = 0
      while (i + n <= toks.length) {
        var j = 0
        while (j < n) { buf(j) = toks(i + j); j += 1 }
        out.add(UTF8String.concatWs(SPACE, buf: _*))
        i += 1
      }
      new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
    } else {
      // positional (repetition-preserving) form: one shingle per window,
      // duplicates kept — counts over these are what repetition metrics
      // (top-n-gram fraction, duplicate-n-gram fraction) are defined on
      val out = new Array[Any](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        var j = 0
        while (j < n) { buf(j) = toks(i + j); j += 1 }
        out(i) = UTF8String.concatWs(SPACE, buf: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** One-pass repetition statistics for [[RepetitionStatsExpr]]: token,
  * bigram and trigram totals, distinct counts and top-1 frequencies from
  * a single tokenization — the fused form of three explode+groupBy
  * aggregations (each a (doc, token) shuffle) collapsed into a pure
  * projection, the same kernel-over-declarative trade as the shingle and
  * signature expressions above.
  */
object RepetitionUtil {
  private val WS = UTF8String.fromString("\\s+")
  private val SPACE = UTF8String.fromString(" ")

  // (total, distinct, top-count) of positional g-grams over toks
  private def gramStats(toks: Array[UTF8String], g: Int): (Int, Int, Int) = {
    val n = toks.length
    if (n < g) return (0, 0, 0)
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    val buf = new Array[UTF8String](g)
    var top = 0
    var i = 0
    while (i + g <= n) {
      var j = 0
      while (j < g) { buf(j) = toks(i + j); j += 1 }
      val key = if (g == 1) buf(0) else UTF8String.concatWs(SPACE, buf: _*)
      val c = counts.computeIfAbsent(key, _ => new Array[Int](1))
      c(0) += 1
      if (c(0) > top) top = c(0)
      i += 1
    }
    (n - g + 1, counts.size, top)
  }

  /** Row of 9 ints: n_words, distinct_words, top_word_c, n_bigrams,
    * distinct_bigrams, top_bigram_c, n_trigrams, distinct_trigrams,
    * top_trigram_c. Tokenization is identical to `split(trim(text),
    * "\\s+")`, so counts match the declarative explode pipelines (and
    * the DuckDB oracle) exactly.
    */
  def stats(text: UTF8String): InternalRow = {
    if (text == null) return null
    val toks = text.trim().split(WS, -1)
    val (nw, dw, tw) = gramStats(toks, 1)
    val (nb, db, tb) = gramStats(toks, 2)
    val (nt, dt, tt) = gramStats(toks, 3)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nw, dw, tw, nb, db, tb, nt, dt, tt))
  }
}

/** `repetition_stats(text)`: the Gopher-repetition counting core as one
  * codegen'd expression returning a 9-int struct; ratio columns derive
  * declaratively above it.
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"repetition_stats needs a string column, got ${child.dataType}")

  override def dataType: DataType = RepetitionStatsExpr.schema

  override protected def nullSafeEval(input: Any): Any =
    RepetitionUtil.stats(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionUtil.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)

  override def prettyName: String = "repetition_stats"
}

object RepetitionStatsExpr {
  import org.apache.spark.sql.types.{IntegerType, StructType}

  val schema: StructType = new StructType()
    .add("n_words", IntegerType, nullable = false)
    .add("distinct_words", IntegerType, nullable = false)
    .add("top_word_c", IntegerType, nullable = false)
    .add("n_bigrams", IntegerType, nullable = false)
    .add("distinct_bigrams", IntegerType, nullable = false)
    .add("top_bigram_c", IntegerType, nullable = false)
    .add("n_trigrams", IntegerType, nullable = false)
    .add("distinct_trigrams", IntegerType, nullable = false)
    .add("top_trigram_c", IntegerType, nullable = false)

  def of(text: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      RepetitionStatsExpr(org.apache.spark.sql.graft.ColumnShim.expression(text)))
}

/** `word_shingles(text, n)`: distinct word n-grams of a whitespace-split
  * string, space-joined — the codegen'd shingler feeding MinHash+LSH.
  * `distinct = false` keeps every positional window (duplicates included)
  * for repetition metrics.
  */
case class WordShinglesExpr(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression {

  require(n >= 1, s"word_shingles: n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles needs a string column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null input maps to an empty array, never null output
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleUtil.wordShingles(child.eval(input).asInstanceOf[UTF8String], n, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = graft.functions.ShingleUtil.wordShingles(
          ${c.isNull} ? null : ${c.value}, $n, $distinct);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShinglesExpr {
  /** Column-level entry point. */
  def of(text: Column, n: Int): Column = of(text, n, distinct = true)

  def of(text: Column, n: Int, distinct: Boolean): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      WordShinglesExpr(org.apache.spark.sql.graft.ColumnShim.expression(text), n, distinct))
}

/** Engine-portable 60-bit md5 token hash, computed straight from the
  * digest bytes. Bit-identical to the declarative
  * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` — the first 15
  * hex digits are digest bytes 0..6 plus the high nibble of byte 7 — but
  * skips the 32-char hex string, the substring and the string-parse per
  * token (the r2→r4 q_dedup_simhash overhead vs the xxhash64 variant).
  */
object HashUtil {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def md5Hash60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >>> 4)
  }
}

/** `md5_hash60(token)`: the codegen'd form of [[HashUtil.md5Hash60]]. */
case class Md5Hash60Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hash60 needs a string column, got ${child.dataType}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.md5Hash60(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.md5Hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60Expr =
    copy(child = newChild)

  override def prettyName: String = "md5_hash60"
}

object Md5Hash60Expr {
  def of(c: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      Md5Hash60Expr(org.apache.spark.sql.graft.ColumnShim.expression(c)))
}

/** One-pass MinHash signatures over a shingle array. Bit-identical to the
  * declarative `transform(sequence(0,k-1), i => array_min(transform(hs,
  * h => (a_i*h + b_i) % P)))` over `hs = transform(shingles,
  * s => pmod(xxhash64(s), P))` — it calls the same XxHash64Function with
  * the same default seed — but hashes each shingle ONCE and keeps k
  * running minima in a primitive array instead of materializing k boxed
  * intermediate arrays per row through interpreted higher-order functions.
  */
object MinHashUtil {
  private val P = 2147483647L // Mersenne 2^31-1, same modulus as TextOps

  def minhash(shingles: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = shingles.numElements()
    val k = a.length
    // empty shingle set → k nulls (array_min of an empty array is null)
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    var any = false
    while (i < n) {
      val sv = shingles.getUTF8String(i)
      if (sv == null) { i += 1 } // null elements carry no signal — skip
      else {
      any = true
      val x = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        sv, StringType, 42L)
      val h = ((x % P) + P) % P
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
      }
    }
    if (!any) return new GenericArrayData(new Array[Any](k))
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Single-pass distinct character-n-gram shingles — the char analog of
  * [[ShingleUtil.wordShingles]]. Matches
  * `array_distinct(transform(sequence(1, greatest(length(text)-n+1, 1)),
  * i => substr(text, i, n)))` exactly: substrings count CHARACTERS
  * (UTF8String.substringSQL, the same call the Substring expression
  * makes), and a text shorter than n yields its single truncated self.
  */
object CharShingleUtil {
  // null text → [null]: greatest(null-…, 1) ignores the null, so the
  // declarative form produces a 1-element sequence whose substr is null
  private val SingleNull: ArrayData = new GenericArrayData(Array[Any](null))

  def charShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return SingleNull
    val chars = text.numChars()
    val count = math.max(chars - n + 1, 1)
    val out = new java.util.LinkedHashSet[UTF8String]
    var i = 1
    while (i <= count) {
      out.add(text.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}

/** `char_shingles(text, n)`: codegen'd distinct character n-grams. */
case class CharShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"char_shingles: n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_shingles needs a string column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    CharShingleUtil.charShingles(child.eval(input).asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = graft.functions.CharShingleUtil.charShingles(
          ${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CharShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "char_shingles"
}

object CharShinglesExpr {
  def of(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      CharShinglesExpr(org.apache.spark.sql.graft.ColumnShim.expression(text), n))
}

/** `minhash_sig(shingles)`: the codegen'd MinHash signature vector. */
case class MinHashExpr(child: Expression, a: Seq[Long], b: Seq[Long]) extends UnaryExpression {
  require(a.nonEmpty && a.length == b.length, "minhash_sig: permutation arrays must align")

  private lazy val aArr = a.toArray
  private lazy val bArr = b.toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig needs array<string>, got $other")
    }

  // elements are null only for an empty shingle set, mirroring array_min
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhash(input.asInstanceOf[ArrayData], aArr, bArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.minhash($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashExpr {
  def of(shingles: Column, a: Seq[Long], b: Seq[Long]): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      MinHashExpr(org.apache.spark.sql.graft.ColumnShim.expression(shingles), a, b))
}

/** One-pass SimHash of a whitespace-tokenized string. Bit-identical to
  * the explode + per-bit ±1 sum + sign aggregation pipeline (the ±1 sums
  * are integer and order-independent) using the same trim/split calls and
  * the same token hash (xxhash64 seed 42 or the portable md5-60 hash) —
  * but runs as a PROJECTION: no token explode, no 60-column hash
  * aggregate, no shuffle for the signature stage at all.
  */
object SimHashUtil {
  private val WS = UTF8String.fromString("\\s+")

  def simhash(text: UTF8String, bits: Int, useMd5: Boolean): Long = {
    val toks = text.trim().split(WS, -1)
    val counts = new Array[Int](bits)
    var t = 0
    while (t < toks.length) {
      val h =
        if (useMd5) HashUtil.md5Hash60(toks(t))
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          toks(t), StringType, 42L)
      var j = 0
      while (j < bits) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

/** `simhash(text)`: codegen'd per-row SimHash signature. */
case class SimHashExpr(child: Expression, bits: Int, useMd5: Boolean) extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"simhash: bits must be in [1,64], got $bits")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash needs a string column, got ${child.dataType}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash(input.asInstanceOf[UTF8String], bits, useMd5)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash($c, $bits, $useMd5)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)

  override def prettyName: String = "simhash"
}

object SimHashExpr {
  def of(text: Column, bits: Int, useMd5: Boolean): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      SimHashExpr(org.apache.spark.sql.graft.ColumnShim.expression(text), bits, useMd5))
}

/** Cosine similarity of two numeric arrays in one pass. Bit-identical to
  * the declarative `dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b)))` built from
  * `aggregate(zip_with(...))`: sums accumulate in element order from 0.0
  * with each float widened to double first, any null element (or a length
  * mismatch, which zip_with pads with nulls) nulls the result.
  */
object CosineUtil {
  // elemKind: 0 = float, 1 = double
  def cosine(a: ArrayData, b: ArrayData, aKind: Int, bKind: Int): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aKind == 0) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bKind == 0) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `cosine_sim(a, b)`: codegen'd cosine similarity of two vectors. */
case class CosineExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def kindOf(e: Expression): Int = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => 0
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => 1
    case _ => -1
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (kindOf(left) >= 0 && kindOf(right) >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      kindOf(left), kindOf(right))

  // null elements / length mismatches null the result even when both
  // inputs are non-null, so the output is nullable regardless of children
  override def nullable: Boolean = true

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lk = kindOf(left)
    val rk = kindOf(right)
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val boxed = ctx.freshName("cosBoxed")
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${lg.isNull} && !${rg.isNull}) {
        Object $boxed = graft.functions.CosineUtil.cosine(${lg.value}, ${rg.value}, $lk, $rk);
        if ($boxed != null) {
          ${ev.isNull} = false;
          ${ev.value} = ((java.lang.Double) $boxed).doubleValue();
        }
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineExpr {
  def of(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      CosineExpr(org.apache.spark.sql.graft.ColumnShim.expression(a),
        org.apache.spark.sql.graft.ColumnShim.expression(b)))
}

/** Squared-euclidean nearest centroids of a float or double vector. */
object CentroidUtil {
  /** Indices of the `m` nearest centers (squared euclid, ties by lower
    * index), as an int array — primitive loops, no per-element boxing.
    * elemKind: 0 = float, 1 = double.
    */
  def nearest(vec: ArrayData, centers: Array[Array[Double]], m: Int, elemKind: Int): ArrayData = {
    val k = centers.length
    val d2 = new Array[Double](k)
    val dim = vec.numElements()
    var c = 0
    while (c < k) {
      val ctr = centers(c)
      var s = 0.0
      var i = 0
      val n = math.min(dim, ctr.length)
      while (i < n) {
        // null elements contribute nothing (consistent bucketing beats an
        // NPE from unboxing a Generic array's null slot)
        if (!vec.isNullAt(i)) {
          val x = if (elemKind == 0) vec.getFloat(i).toDouble else vec.getDouble(i)
          val diff = x - ctr(i)
          s += diff * diff
        }
        i += 1
      }
      d2(c) = s
      c += 1
    }
    val picked = new Array[Int](math.min(m, k))
    val used = new Array[Boolean](k)
    var p = 0
    while (p < picked.length) {
      var best = -1
      var bestD = java.lang.Double.MAX_VALUE
      c = 0
      while (c < k) {
        if (!used(c) && d2(c) < bestD) { best = c; bestD = d2(c) }
        c += 1
      }
      // a NaN element makes every distance NaN and no center "nearest" —
      // fall back to the first unused center (consistent bucketing beats
      // a crash, same policy as the null-element guard above)
      if (best < 0) { c = 0; while (used(c)) c += 1; best = c }
      used(best) = true
      picked(p) = best
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(picked)
  }
}

/** `nearest_centers(vec)`: the `m` nearest centroid ids of an
  * array<float|double> vector under squared euclidean distance — the IVF
  * assignment/probe kernel, with the centroid matrix carried as a
  * codegen reference object.
  */
case class NearestCentersExpr(child: Expression, centers: Seq[Seq[Double]], m: Int)
    extends UnaryExpression {
  require(centers.nonEmpty && m >= 1, "nearest_centers: need centers and m >= 1")

  private lazy val centersArr: Array[Array[Double]] = centers.map(_.toArray).toArray

  private def kind: Int = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => 0
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => 1
    case _ => -1
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (kind >= 0) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nearest_centers needs array<float|double>, got ${child.dataType}")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    CentroidUtil.nearest(input.asInstanceOf[ArrayData], centersArr, m, kind)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCenters", centersArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CentroidUtil.nearest($c, $ref, $m, $kind)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentersExpr =
    copy(child = newChild)

  override def prettyName: String = "nearest_centers"
}

object NearestCentersExpr {
  def of(vec: Column, centers: Seq[Seq[Double]], m: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      NearestCentersExpr(org.apache.spark.sql.graft.ColumnShim.expression(vec), centers, m))
}

/** Sign-bit LSH bucket ids across all hyperplane tables in one pass. */
object LshUtil {
  /** Bucket ids (one long per table) of a vector under `planes` —
    * flattened `numTables × bitsPerTable` hyperplanes, each of length
    * `dim`. Bit `b` of table `t` is set iff `dot(vec, planes[t*bits+b])
    * > 0`. Matches the declarative `when(dot > 0, 1L << b)` chain
    * exactly, including its null algebra: a vector whose length differs
    * from `dim`, or that carries a null element, makes every dot null —
    * no bit set — so such rows land in bucket 0 of every table, same as
    * the higher-order-function form.
    */
  def buckets(vec: ArrayData, planes: Array[Array[Double]],
      numTables: Int, bitsPerTable: Int, elemKind: Int): ArrayData = {
    val out = new Array[Long](numTables)
    val dim = if (planes.length > 0) planes(0).length else 0
    val n = vec.numElements()
    var ok = n == dim
    var i = 0
    while (ok && i < n) { if (vec.isNullAt(i)) ok = false; i += 1 }
    if (ok) {
      val v = new Array[Double](n)
      i = 0
      while (i < n) {
        v(i) = if (elemKind == 0) vec.getFloat(i).toDouble else vec.getDouble(i)
        i += 1
      }
      var p = 0
      while (p < planes.length) {
        val hp = planes(p)
        var s = 0.0
        i = 0
        while (i < dim) { s += v(i) * hp(i); i += 1 }
        if (s > 0) out(p / bitsPerTable) |= 1L << (p % bitsPerTable)
        p += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `lsh_buckets(vec)`: per-table sign-bit LSH bucket ids of a vector —
  * the multi-table hyperplane projection fused into a single kernel
  * (the declarative form costs tables × bits interpreted
  * aggregate/zip_with traversals per row).
  */
case class LshBucketsExpr(child: Expression, tables: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(tables.nonEmpty && tables.forall(_.nonEmpty), "lsh_buckets: need hyperplanes")
  // ragged tables would misassign bits across tables via the flat
  // planes-per-table indexing; >63 bits would overflow the 1L<<b bucket id
  require(tables.forall(_.length == tables.head.length),
    s"lsh_buckets: all tables need ${tables.head.length} hyperplanes (got ${tables.map(_.length).distinct.mkString(",")})")
  require(tables.head.length <= 63,
    s"lsh_buckets: at most 63 bits per table, got ${tables.head.length}")

  private lazy val flat: Array[Array[Double]] =
    tables.flatMap(_.map(_.toArray)).toArray
  private def bitsPerTable: Int = tables.head.length

  private def kindOf(dt: DataType): Int = dt match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => 0
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => 1
    case _ => -1
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (kindOf(child.dataType) >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lsh_buckets needs array<float|double>, got ${child.dataType}")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    LshUtil.buckets(input.asInstanceOf[ArrayData], flat,
      tables.length, bitsPerTable, kindOf(child.dataType))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", flat, "double[][]")
    val k = kindOf(child.dataType)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LshUtil.buckets($c, $ref, ${tables.length}, $bitsPerTable, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketsExpr =
    copy(child = newChild)

  override def prettyName: String = "lsh_buckets"
}

object LshBucketsExpr {
  def of(vec: Column, tables: Seq[Seq[Seq[Double]]]): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      LshBucketsExpr(org.apache.spark.sql.graft.ColumnShim.expression(vec), tables))
}
