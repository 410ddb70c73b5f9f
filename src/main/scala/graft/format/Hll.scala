package graft.format

/** HyperLogLog distinct-value sketch (Flajolet/Fusy/Gandouet/Meunier,
  * AofA 2007, with the standard linear-counting small-range correction).
  *
  * The writer folds each chunk's distinct values' 64-bit hashes into one
  * register array per COLUMN per FILE (a register keeps a maximum, so a
  * repeated value adds nothing), and the registers ride in the file
  * footer (format v6). Merging
  * file sketches is an elementwise max, so scan planning derives a
  * table-level NDV per column from footers alone — the statistic the
  * reference's `estimateCompression` sampler approximates per chunk
  * (stats/NumberStats.hpp:34-76) lifted to table scope, and the one
  * Catalyst's cost-based optimizer needs for join/filter cardinality
  * estimates (`spark.sql.cbo.enabled`) without an ANALYZE-style data
  * scan. At p=12 (4 KiB per column-file) the standard error is
  * 1.04/sqrt(4096) = 1.6%.
  *
  * Registers use the top `p` hash bits as the bucket index and the
  * leading-zero rank of the remaining 64-p bits as the value, so register
  * values fit a byte (max 64-p+1).
  */
object Hll {
  val MinP = 4
  val MaxP = 16
  val DefaultP = 12

  def create(p: Int): Array[Byte] = {
    require(p >= MinP && p <= MaxP, s"hll precision out of range [$MinP,$MaxP]: $p")
    new Array[Byte](1 << p)
  }

  /** Fold one 64-bit value hash into the registers. */
  def add(reg: Array[Byte], p: Int, hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    // rank of the first set bit among the 64-p payload bits; all-zero
    // payload saturates at 64-p+1 (w's low p bits are zeros by
    // construction, so nlz(w) < 64-p whenever w != 0)
    val rank =
      if (w == 0L) 64 - p + 1
      else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > reg(idx)) reg(idx) = rank.toByte
  }

  /** Union: elementwise max (the sketch of the union of both streams). */
  def merge(into: Array[Byte], from: Array[Byte]): Unit = {
    require(into.length == from.length, "hll merge: register size mismatch")
    var i = 0
    while (i < into.length) {
      if (from(i) > into(i)) into(i) = from(i)
      i += 1
    }
  }

  /** Cardinality estimate: bias-corrected harmonic mean, falling back to
    * linear counting below 2.5m when empty registers remain (the
    * published small-range regime where raw HLL is biased).
    */
  def estimate(reg: Array[Byte], p: Int): Long = {
    val m = 1 << p
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = reg(i) & 0xff
      // 2^-r via exponent bits (r <= 61 keeps the exponent in range)
      sum += java.lang.Double.longBitsToDouble((1023L - r) << 52)
      if (r == 0) zeros += 1
      i += 1
    }
    val alpha =
      if (m == 16) 0.673
      else if (m == 32) 0.697
      else if (m == 64) 0.709
      else 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m.toDouble * m.toDouble / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else e
    math.round(est)
  }
}
