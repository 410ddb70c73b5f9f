package graft.format

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[DictBuild]] against the sort-plus-binary-search builder it replaced,
  * kept here as the reference: the same sorted entries and the same
  * per-row codes for every input, whatever the distinct-count hint, so
  * every Dict chunk keeps its bytes.
  */
class DictBuildSpec extends AnyFunSuite {
  private def refLongs(values: Array[Long], count: Int): (Array[Long], Array[Long]) = {
    val copy = java.util.Arrays.copyOf(values, count)
    java.util.Arrays.sort(copy)
    var n = 0
    var i = 0
    while (i < count) {
      if (i == 0 || copy(i) != copy(i - 1)) { copy(n) = copy(i); n += 1 }
      i += 1
    }
    val dict = java.util.Arrays.copyOf(copy, n)
    (dict, Array.tabulate(count)(r => java.util.Arrays.binarySearch(dict, values(r)).toLong))
  }

  private def refBytes(values: Array[Array[Byte]], count: Int): (Array[Array[Byte]], Array[Long]) = {
    val sorted = java.util.Arrays.copyOf(values, count)
    java.util.Arrays.sort(sorted, ByteKey.lexicographic)
    val dict = sorted.zipWithIndex
      .filter { case (v, i) => i == 0 || ByteKey.lexicographic.compare(v, sorted(i - 1)) != 0 }
      .map(_._1)
    (dict, Array.tabulate(count)(r =>
      java.util.Arrays.binarySearch(dict, values(r), ByteKey.lexicographic).toLong))
  }

  /** The hints the writer can pass: exact, far too low (every insert
    * past the first grows the table), far too high, and none.
    */
  private def hints(count: Int, distinct: Int): Seq[Int] = Seq(distinct, 1, count, 0)

  private def longsMatch(values: Array[Long]): Boolean = {
    val (dict, codes) = refLongs(values, values.length)
    hints(values.length, dict.length).forall { h =>
      val got = DictBuild.longs(values, values.length, h)
      java.util.Arrays.equals(got.entries, dict) && java.util.Arrays.equals(got.codes, codes)
    }
  }

  private def bytesMatch(values: Array[Array[Byte]]): Boolean = {
    val (dict, codes) = refBytes(values, values.length)
    hints(values.length, dict.length).forall { h =>
      val got = DictBuild.bytes(values, values.length, h)
      got.entries.length == dict.length &&
        got.entries.indices.forall(j => java.util.Arrays.equals(got.entries(j), dict(j))) &&
        java.util.Arrays.equals(got.codes, codes)
    }
  }

  private def check(p: Prop): Unit = {
    val r = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(Seed(42L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val rnd = new scala.util.Random(7L)
  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("longs: empty, single, all-equal and full 65,536-value chunks") {
    assert(longsMatch(Array.emptyLongArray))
    assert(longsMatch(Array(42L)))
    assert(longsMatch(Array.fill(65536)(-7L)))
    assert(longsMatch(Array.fill(65536)(rnd.nextInt(2500).toLong + 8035L)))
  }

  test("longs: extremes and negatives keep signed order") {
    val edge = Array(Long.MinValue, Long.MaxValue, -1L, 0L, 1L, Long.MinValue + 1, Long.MaxValue - 1)
    assert(longsMatch(edge))
    assert(longsMatch(Array.fill(65536)(edge(rnd.nextInt(edge.length)))))
    assert(longsMatch(Array.fill(65536)(-rnd.nextInt(1000).toLong)))
  }

  test("longs: raw bits of small-integer doubles, -0.0 and NaN payloads") {
    val nans = Array(bits(Double.NaN), 0x7ff0000000000001L, 0xfff8000000000000L, 0x7ff8dead00000000L)
    val specials = nans ++ Array(bits(0.0), bits(-0.0), bits(Double.PositiveInfinity),
      bits(Double.NegativeInfinity))
    assert(longsMatch(specials))
    assert(longsMatch(Array.fill(65536)(bits((1 + rnd.nextInt(50)).toDouble))))
    assert(longsMatch(Array.fill(65536)(
      if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.length))
      else bits(rnd.nextInt(200) * 0.25))))
  }

  test("longs: 65,536 distinct values, shuffled and sorted") {
    val distinct = Array.fill(65536)(rnd.nextLong())
    assert(longsMatch(distinct))
    assert(longsMatch(distinct.sorted))
    assert(longsMatch(Array.tabulate(65536)(_.toLong * 1000003L)))
  }

  test("longs: random chunks match the reference") {
    val value = Gen.oneOf(Gen.choose(-3L, 3L), Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(Long.MinValue, Long.MaxValue, 0L), Gen.choose(0, 60).map(i => bits(i.toDouble)))
    check(Prop.forAll(Gen.choose(0, 3000).flatMap(n => Gen.listOfN(n, value))) { vs =>
      longsMatch(vs.toArray)
    })
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("bytes: empty, single, all-equal and full 65,536-value chunks") {
    assert(bytesMatch(Array.empty[Array[Byte]]))
    assert(bytesMatch(Array(utf8("x"))))
    assert(bytesMatch(Array.fill(65536)(Array.emptyByteArray)))
    val pool = Array.tabulate(300)(i => utf8(s"STATUS_$i"))
    assert(bytesMatch(Array.fill(65536)(pool(rnd.nextInt(pool.length)).clone())))
  }

  test("bytes: empty strings, shared prefixes and bytes >= 0x80 sort unsigned") {
    val tricky = Array(Array.emptyByteArray, utf8("a"), utf8("ab"), utf8("abc"), utf8("abd"),
      Array[Byte](0x7f), Array[Byte](0x80.toByte), Array[Byte](0xff.toByte), Array[Byte](0, 0),
      Array[Byte](0), utf8("é"), utf8("e"), Array[Byte](0x61, 0x80.toByte), Array[Byte](0x61, 0x7f))
    assert(bytesMatch(tricky))
    assert(bytesMatch(Array.fill(65536)(tricky(rnd.nextInt(tricky.length)).clone())))
  }

  test("bytes: run-heavy chunks match the reference") {
    // sorted runs of equal copies, runs of one shared array, a run at row
    // 0 and values that recur after other runs (their first-seen id holds)
    val pool = Array(utf8("R"), utf8("A"), utf8("N"), Array.emptyByteArray, utf8("TRUCK"),
      utf8("DELIVER IN PERSON"), Array[Byte](0x80.toByte, 0))
    val runs = Array.newBuilder[Array[Byte]]
    var n = 0
    while (n < 65536) {
      val v = pool(rnd.nextInt(pool.length))
      val len = math.min(65536 - n, 1 + rnd.nextInt(2000))
      val shared = rnd.nextBoolean()
      var k = 0
      while (k < len) { runs += (if (shared) v else v.clone()); k += 1 }
      n += len
    }
    assert(bytesMatch(runs.result()))
    val sorted = Array.tabulate(65536)(i => utf8(f"${i / 4096}%04d"))
    assert(bytesMatch(sorted))
    assert(bytesMatch(Array.tabulate(65536)(i => pool((i / 7) % pool.length).clone())))
  }

  test("bytes: 65,536 distinct values") {
    assert(bytesMatch(Array.tabulate(65536)(i => utf8(s"row-$i-${rnd.nextInt()}"))))
  }

  test("bytes: random chunks match the reference") {
    val value = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.choose(0, 4).map(k => Array.fill(k)(0x80.toByte)),
      Gen.oneOf("", "a", "ab", "b", "ba").map(utf8))
    check(Prop.forAll(Gen.choose(0, 2000).flatMap(n => Gen.listOfN(n, value))) { vs =>
      bytesMatch(vs.toArray)
    })
  }
}
