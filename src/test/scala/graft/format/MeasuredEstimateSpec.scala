package graft.format

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Measured (sample-compress) scheme selection vs the closed-form
  * estimates it replaces — the reference's estimateCompression contract
  * (/root/reference/btrblocks/scheme/CompressionScheme.cpp:8-46): a
  * candidate's size is learned by actually compressing the retained
  * sample (cascade included), not by a formula. These tests pin that
  * measured mode (the default) round-trips, is deterministic and never
  * loses meaningfully to formula-only selection (`measuredEstimate =
  * false`, what the measurement's own nested encodes run under) across
  * scheme-triggering distributions.
  */
class MeasuredEstimateSpec extends AnyFunSuite {
  private val measured = BtrConfig.Default // measuredEstimate = true
  private val formula = BtrConfig.Default.copy(measuredEstimate = false)

  private def intBytes(values: Array[Long], cfg: BtrConfig): Array[Byte] = {
    val out = new BufWriter()
    IntCodec.encode(out, values, values.length, 8, 3, cfg)
    out.result()
  }

  private def doubleBytes(values: Array[Double], cfg: BtrConfig): Array[Byte] = {
    val out = new BufWriter()
    DoubleCodec.encode(out, values, values.length, 3, cfg)
    out.result()
  }

  // scheme-triggering int distributions (ref test/DatasetGenerator.cpp)
  private def intPatterns(rnd: Random): Seq[(String, Array[Long])] = Seq(
    "dict-skew" -> Array.fill(65536)(rnd.nextInt(300).toLong * 1000003L),
    "runs" -> Array.tabulate(65536)(i => (i / 500).toLong),
    "freq-90" -> Array.fill(65536)(if (rnd.nextInt(10) < 9) 7L else rnd.nextLong() & 0xffffff),
    "sorted-deltas" -> Array.iterate(0L, 65536)(_ + rnd.nextInt(16)),
    "pfor-outliers" -> Array.fill(65536)(
      if (rnd.nextInt(100) == 0) rnd.nextLong() & 0xffffffffffL else rnd.nextInt(1024).toLong),
    "zipf-ish" -> Array.fill(65536)((1.0 / (rnd.nextDouble() + 0.001)).toLong),
    "random" -> Array.fill(65536)(rnd.nextLong()),
    "small" -> Array.fill(700)(rnd.nextInt(5).toLong)
  )

  private def doublePatterns(rnd: Random): Seq[(String, Array[Double])] = Seq(
    "decimal" -> Array.fill(65536)(rnd.nextInt(100000) / 100.0),
    "dict-skew" -> Array.fill(65536)(rnd.nextInt(200) * 1.5),
    "runs" -> Array.tabulate(65536)(i => (i / 400).toDouble),
    "random" -> Array.fill(65536)(rnd.nextDouble() * 1e18)
  )

  test("measured int selection round-trips and never loses >2% to formula overall") {
    val rnd = new Random(7)
    var mTotal = 0L
    var fTotal = 0L
    for ((name, vals) <- intPatterns(rnd)) {
      val m = intBytes(vals, measured)
      val f = intBytes(vals, formula)
      val dec = IntCodec.decode(new BufReader(m), vals.length)
      assert(dec.toSeq == vals.toSeq, s"$name: measured pick must round-trip")
      mTotal += m.length
      fTotal += f.length
    }
    assert(mTotal <= fTotal * 102 / 100,
      s"measured $mTotal vs formula $fTotal bytes: sample-compress selection regressed")
  }

  test("measured double selection round-trips bit-exactly and stays competitive") {
    val rnd = new Random(11)
    var mTotal = 0L
    var fTotal = 0L
    for ((name, vals) <- doublePatterns(rnd)) {
      val m = doubleBytes(vals, measured)
      val f = doubleBytes(vals, formula)
      val dec = DoubleCodec.decode(new BufReader(m), vals.length)
      var i = 0
      while (i < vals.length) {
        assert(java.lang.Double.doubleToRawLongBits(dec(i)) ==
          java.lang.Double.doubleToRawLongBits(vals(i)), s"$name: bit mismatch at $i")
        i += 1
      }
      mTotal += m.length
      fTotal += f.length
    }
    assert(mTotal <= fTotal * 102 / 100,
      s"measured $mTotal vs formula $fTotal bytes: sample-compress selection regressed")
  }

  test("measured selection is deterministic") {
    val rnd = new Random(13)
    for ((name, vals) <- intPatterns(rnd)) {
      val a = intBytes(vals, measured)
      val b = intBytes(vals, measured)
      assert(java.util.Arrays.equals(a, b), s"$name: non-deterministic encode")
    }
  }

  test("measured stays within striking distance of TRY_ALL") {
    val rnd = new Random(17)
    val tryAll = BtrConfig.Default.copy(tryAll = true)
    var mTotal = 0L
    var tTotal = 0L
    for ((_, vals) <- intPatterns(rnd)) {
      mTotal += intBytes(vals, measured).length
      tTotal += intBytes(vals, tryAll).length
    }
    // TRY_ALL is the floor; measured should land within 10% of it
    assert(mTotal <= tTotal * 110 / 100, s"measured $mTotal vs tryall $tTotal")
  }

  test("full-stats mode (no sampling) keeps formula selection and round-trips") {
    val rnd = new Random(19)
    val full = BtrConfig.Default.copy(sampleRuns = 0)
    for ((name, vals) <- intPatterns(rnd).take(4)) {
      val out = new BufWriter()
      IntCodec.encode(out, vals, vals.length, 8, 3, full)
      val dec = IntCodec.decode(new BufReader(out.result()), vals.length)
      assert(dec.toSeq == vals.toSeq, s"$name under full stats")
    }
  }
}
