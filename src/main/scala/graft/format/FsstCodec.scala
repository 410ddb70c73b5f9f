package graft.format

/** FSST (Fast Static Symbol Table) string compression, from the published
  * algorithm (Boncz, Neumann, Leis: "FSST: Fast Random Access String
  * Compression", VLDB 2020) that the reference vendors as a C library
  * (/root/reference/btrblocks/scheme/string/Fsst.cpp). Re-implemented in
  * Scala from the paper: ≤255 symbols of ≤8 bytes, greedy longest-match
  * encode, escape byte 255 for uncovered bytes, iterative symbol-table
  * training on a sample.
  */
object FsstCodec {
  val Escape = 255

  /** Encode a string column: [symbolTable][lengths cascade][bytes]. */
  def encodeStrings(out: BufWriter, values: Array[Array[Byte]], count: Int, depth: Int,
      cfg: BtrConfig = BtrConfig.Default, seed: Long = 42L): Unit = {
    val table = SymbolTable.train(values, count)
    table.write(out)
    val encoded = new Array[Array[Byte]](count)
    var i = 0
    while (i < count) { encoded(i) = table.compress(values(i)); i += 1 }
    val lens = new Array[Long](count)
    i = 0
    while (i < count) { lens(i) = encoded(i).length.toLong; i += 1 }
    IntCodec.encode(out, lens, count, 4, math.max(depth, 1), cfg, seed)
    i = 0
    while (i < count) { out.putBytes(encoded(i)); i += 1 }
  }

  /** Decode a string column → (lengths, concatenated bytes).
    *
    * Two passes, like the reference's unconditional-store decoder
    * (fsst paper §4; the vendored C decoder stores a full machine word
    * per code): pass 1 sizes the exact output from the per-code symbol
    * lengths, pass 2 ([[FsstVectorKernel.expand]]) writes each symbol as
    * ONE little-endian 8-byte store (symbols are ≤8 bytes, zero-padded at
    * pack time) and advances by its true length — no per-symbol
    * arraycopy, no growth checks in the hot loop.
    */
  def decodeStrings(in: BufReader, count: Int): (Array[Int], Array[Byte]) = {
    val table = SymbolTable.read(in)
    val lensL = IntCodec.decode(in, count)
    val lens = new Array[Int](count)
    var total = 0
    var i = 0
    while (i < count) { lens(i) = lensL(i).toInt; total += lens(i); i += 1 }
    val comp = in.getBytes(total)
    val symLen = table.symLen
    val nSyms = table.symbols.length
    // pass 1: exact decompressed size, FLAT over the whole buffer (no
    // string boundaries — the per-string lengths come from pass 2's
    // cursor). The sizing walk is serial only because each step's
    // advance depends on the loaded byte; [[FsstVectorKernel.size]]
    // breaks that with a SWAR escape scan (two long loads) per 16-byte
    // block and independent pipelined table loads inside escape-free
    // blocks. The scalar walk below sizes the tail past the kernel's
    // cursor and validates codes there (outAdd == 0 marks out-of-table);
    // when the kernel reports a corrupt code it rescans from the start
    // to name the offset, so pass 2 keeps its branch-free word-store
    // shape.
    var exact = 0L
    var p = 0
    val cursor = new Array[Int](1)
    val partial = FsstVectorKernel.size(comp, total, table.outAdd, cursor)
    if (partial >= 0L) {
      exact = partial
      p = cursor(0)
    }
    while (p < total) {
      val code = comp(p) & 0xff
      if (code == Escape) { exact += 1; p += 2 }
      else {
        if (code >= nSyms)
          throw new java.io.IOException(
            s"fsst: corrupt stream — code $code outside the $nSyms-symbol table at offset $p")
        exact += symLen(code)
        p += 1
      }
    }
    require(exact <= Int.MaxValue - 16, s"fsst: decoded block exceeds 2 GiB ($exact bytes)")
    val outLen = exact.toInt
    val out = new Array[Byte](outLen)
    val outLens = new Array[Int](count)
    FsstVectorKernel.expand(comp, lens, count, out, outLen, table.symWord, symLen, table.symbols, outLens)
    (outLens, out)
  }
}

/** FSST symbol table: up to 255 symbols, each 1..8 bytes; code 255 is the
  * escape marker followed by one raw byte.
  */
final class SymbolTable(val symbols: Array[Array[Byte]]) {
  // decode tables: per-code true length and the symbol packed into one
  // little-endian word (zero-padded) — the decoder stores 8 bytes
  // unconditionally and advances by symLen
  val symLen: Array[Int] = {
    val a = new Array[Int](256)
    var c = 0
    while (c < symbols.length) { a(c) = symbols(c).length; c += 1 }
    a
  }
  val symWord: Array[Long] = {
    val a = new Array[Long](256)
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      var w = 0L
      var j = s.length - 1
      while (j >= 0) { w = (w << 8) | (s(j) & 0xffL); j -= 1 }
      a(c) = w
      c += 1
    }
    a
  }

  // sizing table for the vector kernel's escape-free blocks: output
  // bytes per non-escape code; out-of-table codes keep 0, the
  // corrupt-stream sentinel (symbols are 1..8 bytes, so 0 is
  // unreachable for a valid code — FsstVectorKernel folds `outAdd-1`
  // into a sign accumulator to detect it without a branch).
  val outAdd: Array[Int] = {
    val a = new Array[Int](256)
    System.arraycopy(symLen, 0, a, 0, symbols.length)
    a(FsstCodec.Escape) = 1
    a
  }

  // longest-match index: first byte → symbol codes sorted by length desc.
  // LAZY: only the compress side needs it — building 256 sorted lists on
  // every SymbolTable.read cost the DECODE path ~15% (round 18 measured)
  private lazy val byFirst: Array[Array[Int]] = {
    val tmp = Array.fill(256)(List.empty[Int])
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      if (s.length > 0) {
        val f = s(0) & 0xff
        tmp(f) = c :: tmp(f)
      }
      c += 1
    }
    tmp.map(_.sortBy(c => -symbols(c).length).toArray)
  }

  def compress(input: Array[Byte]): Array[Byte] = {
    val out = new BufWriter(input.length + 8)
    var i = 0
    while (i < input.length) {
      val cands = byFirst(input(i) & 0xff)
      var matched = -1
      var ci = 0
      while (matched < 0 && ci < cands.length) {
        val code = cands(ci)
        val s = symbols(code)
        if (i + s.length <= input.length && regionEquals(input, i, s)) matched = code
        ci += 1
      }
      if (matched >= 0) {
        out.putByte(matched)
        i += symbols(matched).length
      } else {
        out.putByte(FsstCodec.Escape)
        out.putByte(input(i) & 0xff)
        i += 1
      }
    }
    out.result()
  }

  @inline private def regionEquals(input: Array[Byte], at: Int, s: Array[Byte]): Boolean = {
    var j = 0
    while (j < s.length) {
      if (input(at + j) != s(j)) return false
      j += 1
    }
    true
  }

  def write(out: BufWriter): Unit = {
    out.putByte(symbols.length)
    var c = 0
    while (c < symbols.length) {
      out.putByte(symbols(c).length)
      out.putBytes(symbols(c))
      c += 1
    }
  }
}

object SymbolTable {
  def read(in: BufReader): SymbolTable = {
    val n = in.getByte()
    val syms = new Array[Array[Byte]](n)
    var c = 0
    while (c < n) {
      val len = in.getByte()
      syms(c) = in.getBytes(len)
      c += 1
    }
    new SymbolTable(syms)
  }

  /** Iterative greedy training per the FSST paper §3: tokenize a sample
    * with the current table, count gains of existing symbols and of merged
    * adjacent-token candidates (≤8 bytes), keep the 255 highest-gain
    * symbols (gain = covered bytes), repeat.
    */
  def train(values: Array[Array[Byte]], count: Int, rounds: Int = 4): SymbolTable = {
    // sample up to ~64 KiB of input, strided across the column
    val sample = {
      var total = 0
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var i = 0
      val stride = math.max(1, count / 512)
      while (i < count && total < (1 << 16)) {
        buf += values(i)
        total += values(i).length
        i += stride
      }
      buf.toArray
    }
    var table = new SymbolTable(Array.empty)
    var r = 0
    while (r < rounds) {
      // every key is at most 8 bytes: one map per length, keyed by the
      // bytes packed little-endian into a long
      val gains = Array.fill(8)(new scala.collection.mutable.LongMap[Long]())
      def gain(s: Array[Byte], from: Int, len: Int, g: Long): Unit = {
        var key = 0L
        var k = 0
        while (k < len) { key |= (s(from + k) & 0xffL) << (8 * k); k += 1 }
        val m = gains(len - 1)
        m(key) = m.getOrElse(key, 0L) + g
      }
      var si = 0
      while (si < sample.length) {
        val s = sample(si)
        var i = 0
        var prevStart = -1
        var prevLen = 0
        while (i < s.length) {
          val len = matchLen(table, s, i)
          gain(s, i, len, len)
          if (prevStart >= 0 && prevLen + len <= 8) gain(s, prevStart, prevLen + len, prevLen + len)
          prevStart = i
          prevLen = len
          i += len
        }
        si += 1
      }
      // deterministic: gain desc, then lexicographic bytes
      val chosen = gains.indices
        .flatMap { l =>
          gains(l).iterator.map { case (key, g) =>
            (Array.tabulate[Byte](l + 1)(k => (key >>> (8 * k)).toByte), g)
          }
        }
        .filter { case (k, g) => g > k.length } // must beat raw coverage
        .sortWith { case ((ka, ga), (kb, gb)) =>
          if (ga != gb) ga > gb
          else ByteKey.lexicographic.compare(ka, kb) < 0
        }
        .take(255)
        .map(_._1)
        .toArray
      table = new SymbolTable(chosen)
      r += 1
    }
    table
  }

  /** Longest symbol match at position `at`, or 1 (single raw byte). */
  private def matchLen(table: SymbolTable, s: Array[Byte], at: Int): Int = {
    var best = 1
    var c = 0
    while (c < table.symbols.length) {
      val sym = table.symbols(c)
      if (sym.length > best && at + sym.length <= s.length) {
        var j = 0
        var ok = true
        while (ok && j < sym.length) { ok = s(at + j) == sym(j); j += 1 }
        if (ok) best = sym.length
      }
      c += 1
    }
    best
  }
}
