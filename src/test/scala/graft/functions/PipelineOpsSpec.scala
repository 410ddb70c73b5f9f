package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark columnar compression engines"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank") // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhashDedup finds near and exact duplicates, skips unrelated") {
    val pairs = TextOps.minhashDedup(docs, "doc_id", "text", shingleSize = 3,
      numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
  }

  test("a viral duplicate class stays linear, not quadratic (skew guard)") {
    // 10,000 copies of one document: all-pairs inside its LSH buckets
    // would be ~5*10^7 candidate pairs; the guard caps over-sized buckets
    // by pairing members with the bucket's min-id representative instead
    val n = 10000
    val viral = (0 until n).map(i =>
        (i.toLong, "the same viral document body repeated across the corpus many times over"))
      .toDF("doc_id", "text")
    val distinctDocs = Seq(
      (100000L, "one genuinely unique document about columnar compression research"),
      (100001L, "another unique text mentioning adaptive query execution in spark")
    ).toDF("doc_id", "text")
    val pairs = TextOps.minhashDedup(viral.union(distinctDocs), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucketSize = 256)
    val cnt = pairs.count()
    // bounded: every viral member pairs with the representative (id 0),
    // not with every other member
    assert(cnt >= n - 1, s"expected the class linked to its representative, got $cnt")
    assert(cnt < 4L * n, s"expected ~linear pair output, got $cnt")
    val repPairs = pairs.filter(col("id_a") === 0L).count()
    assert(repPairs == n - 1, s"representative should link all $n members, got $repPairs")
    pairs.unpersist()
  }

  test("minhashIncrement pairs increment docs against corpus only, exact-verified") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "completely different content about spark columnar compression engines"),
      (5L, "yet another unrelated text on adaptive execution and shuffle planning")
    ).toDF("doc_id", "text")
    val increment = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
      (11L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (12L, "fresh admission-worthy document with entirely novel token content"),
      (13L, "the quick brown fox jumps over the lazy dog near the river bend")  // dup of 10 — but
        // in-increment pairs are NOT this operator's output (corpus side only)
    ).toDF("doc_id", "text")
    val pairs = TextOps.minhashIncrement(corpus, increment, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_new", "id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)) && pairs.contains((11L, 1L)) && pairs.contains((13L, 1L)))
    assert(!pairs.exists(_._1 == 12L), "novel doc must have no corpus match")
    assert(pairs.forall(p => Set(1L, 3L, 5L).contains(p._2)),
      "right side must always be a corpus doc")
    assert(!pairs.exists(p => p._1 == 13L && p._2 == 10L),
      "increment-internal pairs are out of scope")
  }

  test("minhashIncrement: a viral CORPUS class degrades linearly with loud telemetry") {
    val n = 5000
    val viralCorpus = (0 until n).map(i =>
        (i.toLong, "the same viral document body repeated across the corpus many times over"))
      .toDF("doc_id", "text")
    val increment = Seq(
      (900000L, "the same viral document body repeated across the corpus many times over"),
      (900001L, "a novel increment document that matches nothing in the corpus at all")
    ).toDF("doc_id", "text")
    val pairs = TextOps.minhashIncrement(viralCorpus, increment, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucketSize = 256)
    val cnt = pairs.count()
    // the probing doc links to the viral bucket's representative, not to
    // every member: output stays O(increment), never O(bucket)
    assert(cnt >= 1 && cnt < 64, s"expected representative-bounded matches, got $cnt")
    assert(pairs.filter(col("id_new") === 900000L && col("id_corpus") === 0L).count() == 1,
      "viral probe must link to the corpus bucket's min-id representative")
    val (buckets, members) = TextOps.lastOversizedBuckets.get(spark)
    assert(buckets > 0 && members > 0, "the recall trade must be telemetered, not silent")
    pairs.unpersist()
  }

  test("dedupParagraphs drops cross-doc repeats, keeps order, survives collisions-by-design") {
    // page structure: a shared boilerplate header/footer across docs, a
    // paragraph repeated WITHIN one doc only (kept — not cross-doc), and
    // unique bodies that must reassemble in original order
    val pages = Seq(
      (1L, "SHARED HEADER\n\nunique body one alpha\n\nunique body one beta\n\nSHARED FOOTER"),
      (2L, "SHARED HEADER\n\nunique body two\n\nSHARED FOOTER"),
      (3L, "only unique content here\n\nrepeated inside\n\nrepeated inside"),
      (4L, "  SHARED HEADER \n\n\n\nwhitespace-normalized survivor"), // trims + empty para
      (5L, "SHARED HEADER") // every paragraph dropped -> empty clean_text
    ).toDF("id", "text")
    val out = TextOps.dedupParagraphs(pages, "id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))))
      .toMap
    assert(out(1L) == (("unique body one alpha\n\nunique body one beta", 2L, 2L)))
    assert(out(2L) == (("unique body two", 1L, 2L)))
    // within-doc-only repetition is NOT cross-doc boilerplate: kept twice
    assert(out(3L) == (("only unique content here\n\nrepeated inside\n\nrepeated inside", 3L, 0L)))
    // header matched after trim; empty paragraph ignored, not counted
    assert(out(4L) == (("whitespace-normalized survivor", 1L, 1L)))
    // a fully-boilerplate doc keeps its row with empty text
    assert(out(5L) == (("", 0L, 1L)))
  }

  test("corpus-mix budget window is deterministic and stops at the budget line") {
    // mirror of q_corpus_mix's shape on a tiny frame: per-source salted-
    // hash order, admit while PRIOR cumulative tokens are under budget
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "a", "one two three four"), (2L, "a", "five six seven"),
      (3L, "a", "eight nine"), (4L, "b", "ten eleven twelve thirteen fourteen")
    ).toDF("doc_id", "src", "text")
    val tk = docs.select(col("doc_id"), col("src"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      TextOps.md5Hash60(concat(lit("salt"), col("doc_id").cast("string"))).as("hk"))
    val w = Window.partitionBy("src").orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def mix(budget: Long) = tk
      .withColumn("prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("prior") < budget)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val r1 = mix(5L); val r2 = mix(5L)
    assert(r1 == r2, "same budget must admit the identical doc set")
    // budget 5 over source a (9 tokens in 3 docs): first doc always
    // admitted (prior 0), and at least one doc must be left out
    assert(r1.nonEmpty && r1.size < 4)
    // a huge budget admits everything; zero budget admits nothing
    assert(mix(1000L).size == 4 && mix(0L).isEmpty)
  }

  test("chunkDocuments: overlapping windows cover every token, reconstruct exactly") {
    val window = 8; val stride = 5
    val corpus = Seq(
      (1L, (1 to 23).map(i => s"t$i").mkString(" ")), // several windows + ragged tail
      (2L, "a b c"),                                   // shorter than one window
      (3L, "solo"),                                    // single token
      (4L, (1 to 10).map(i => s"u$i").mkString(" "))   // exactly start-boundary tail
    ).toDF("doc_id", "text")
    val chunks = TextOps.chunkDocuments(corpus, "doc_id", "text", window, stride)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = chunks.groupBy(_._1)
    val words = corpus.collect().map(r => r.getLong(0) -> r.getString(1).split("\\s+")).toMap
    words.foreach { case (id, ws) =>
      val cs = byDoc(id).sortBy(_._2)
      // chunk ids dense from 0, starts at stride multiples
      assert(cs.map(_._2).toSeq == cs.indices.map(_.toLong))
      cs.foreach { case (_, cid, start, n, text) =>
        assert(start == cid * stride)
        assert(n == math.min(window, ws.length - start))
        assert(text == ws.slice(start.toInt, start.toInt + window).mkString(" "))
      }
      // full coverage: every token position falls inside some window
      val covered = cs.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0L until ws.length).toSet, s"doc $id coverage hole")
      // the last window starts inside the doc
      assert(cs.last._3 < ws.length)
    }
    assert(byDoc(2L).length == 1 && byDoc(3L).length == 1)
  }

  test("packSequences tiles each shard's token stream exactly, no gaps, no padding") {
    val n = 3000
    val rnd = new scala.util.Random(11)
    val corpus = (0 until n).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" "))
    }.toDF("doc_id", "text")
    val budget = 64L
    val packed = TextOps.packSequences(corpus, "doc_id",
      size(split(trim(col("text")), "\\s+")).cast("long"), budget, shards = 4)
    val rows = packed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == n, "total: every doc is assigned")
    // deterministic across runs
    val again = packed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      // per shard: doc token spans tile [0, total) contiguously — sort by
      // global position (first_seq * budget + offset) and check each doc
      // starts exactly where the previous ended
      val byPos = docs.sortBy(d => d._4 * budget + d._6)
      var expectedStart = 0L
      byPos.foreach { case (_, _, tok, firstSeq, lastSeq, off) =>
        assert(firstSeq * budget + off == expectedStart,
          s"shard $shard: doc starts at ${firstSeq * budget + off}, expected $expectedStart")
        assert(off >= 0 && off < budget)
        // last_seq is the sequence holding the doc's final token
        val lastTokenPos = expectedStart + math.max(tok, 1L) - 1
        assert(lastSeq == lastTokenPos / budget)
        expectedStart += tok
      }
      // every sequence before the last is exactly full (concat-and-chunk
      // has no padding): total tokens span ceil(total/budget) sequences
      val total = docs.map(_._3).sum
      assert(byPos.last._5 == (total - 1) / budget,
        s"shard $shard: last sequence id must be (total-1)/budget")
    }
    // shards are balanced enough to parallelize (md5 routing)
    val perShard = rows.groupBy(_._2).map(_._2.length)
    assert(perShard.size == 4 && perShard.min > n / 8)
  }

  test("simhash block-pair buckets keep FULL recall where single-block keys saturate") {
    // planted corpus: 2,000 signatures that all share the same LOW 16
    // bits (the classic 4×16-bit scheme's block 0) — under that scheme
    // one bucket holds all 2,000 docs, exceeds maxBucketSize=1024, and
    // the representative path silently loses pairs between non-rep
    // members. The block-PAIR keys spread these signatures across many
    // buckets, so recall must be exact vs brute force.
    val base = 0x5CAFE0000L | 0x1234L // low 16 bits fixed
    val rnd = new scala.util.Random(7)
    val sigs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until 2000).foreach { i =>
      // unique high bits, shared low 16 bits
      sigs += ((i.toLong, (rnd.nextLong() << 16) | 0x1234L))
    }
    // planted near-dup pair deep in the middle (neither is a bucket
    // min-id representative): ids 1500/1501, distance 3
    val a = (0x0F0F0F0F0F0FL << 16) | 0x1234L
    sigs(1500) = (1500L, a)
    sigs(1501) = (1501L, a ^ (1L << 20) ^ (1L << 33) ^ (1L << 63))
    val sh = sigs.toSeq.toDF("id", "simhash")

    val got = TextOps.simhashPairsFromSignatures(sh, maxDist = 3,
      maxBucketSize = 1024, bits = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force truth over all C(2000,2) pairs
    val truth = sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("d"))
      .filter(col("d") <= 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(truth.contains((1500L, 1501L)), "setup: the planted pair must be real")
    assert(got == truth, s"block-pair recall must be exact: missing ${truth -- got}, " +
      s"extra ${got -- truth}")
    // and no bucket overflowed — the telemetry proves the key space held
    val (buckets, _) = TextOps.lastOversizedBuckets.get(spark)
    assert(buckets == 0L, s"pair keys must not saturate here, got $buckets oversized")
  }

  test("oversized-bucket telemetry reports the representative-path recall trade") {
    // force overflow: 300 IDENTICAL signatures with maxBucketSize=64 —
    // every table's bucket holds all 300
    val sh = (0 until 300).map(i => (i.toLong, 0xABCDEF012345L)).toDF("id", "simhash")
    val pairs = TextOps.simhashPairsFromSignatures(sh, maxDist = 0,
      maxBucketSize = 64, bits = 64)
    val cnt = pairs.count()
    assert(cnt == 299L, s"representative path links members to min-id, got $cnt")
    val (buckets, members) = TextOps.lastOversizedBuckets.get(spark)
    assert(buckets == 6L && members == 1800L,
      s"all 6 tables must report their oversized bucket, got ($buckets, $members)")
  }

  test("simhash: identical texts hash identically, near-dups are close, unrelated far") {
    val sh = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    val near = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(near < far, s"near=$near far=$far")
  }

  test("WordShinglesExpr equals the declarative shingle pipeline on edge cases") {
    val edge = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, Some("a b")), // fewer tokens than n
      (3L, Some("")),
      (4L, None), // null text
      (5L, Some("  leading and trailing   spaces  ")),
      (6L, Some("tabs\tand\nnewlines\tsplit too")),
      (7L, Some("\tleading tab keeps an empty token")),
      (8L, Some("dup dup dup dup dup")), // repeated shingles collapse
      (9L, Some("日本語 テキスト の 処理 も 同じ"))
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5)) {
      val declarative = edge.select(col("doc_id"),
        TextOps.wordShingles(TextOps.tokens(col("text")), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val fast = edge.select(col("doc_id"), WordShinglesExpr.of(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(fast == declarative, s"n=$n:\nfast=$fast\ndecl=$declarative")
    }
  }

  test("Md5Hash60Expr is bit-identical to conv(substring(md5,1,15),16,10)") {
    val toks = Seq("the", "", "a", "Zebra!", "日本語", "x" * 500, "tab\there", "99 bottles")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "tok")
    val declarative = toks.select(col("id"),
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toks.select(col("id"), TextOps.md5Hash60(col("tok")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == declarative, s"fast=$fast decl=$declarative")
  }

  test("MinHashExpr signatures are bit-identical to the declarative pipeline") {
    val data = Seq(
      (1L, Seq("the quick", "quick brown", "brown fox")),
      (2L, Seq.empty[String]), // empty shingle set → k nulls
      (3L, Seq("dup", "dup", "unique")), // duplicates (min over multiset = min over set)
      (4L, Seq("日本語 テキスト", "", "x"))
    ).toDF("id", "sh")
    for (k <- Seq(4, 32)) {
      val decl = data.select(col("id"), TextOps.minhashDeclarative(col("sh"), k).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      val fast = data.select(col("id"), TextOps.minhash(col("sh"), k).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      assert(fast == decl, s"k=$k:\nfast=$fast\ndecl=$decl")
    }
  }

  test("custom expressions compile under codegen with fallback disabled") {
    // a broken doGenCode silently degrades to interpreted eval; force
    // codegen-only so a janino compile error fails the suite instead
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq((1L, "the quick brown fox jumps again", Seq(1.5f, 2.5f)))
        .toDF("id", "text", "vec")
      df.select(WordShinglesExpr.of(col("text"), 3)).collect()
      df.select(CharShinglesExpr.of(col("text"), 5)).collect()
      df.select(Md5Hash60Expr.of(col("text"))).collect()
      df.select(TextOps.minhash(WordShinglesExpr.of(col("text"), 3), 8)).collect()
      df.select(NearestCentersExpr.of(col("vec"), Seq(Seq(0.0, 0.0), Seq(5.0, 5.0)), 2)).collect()
      df.select(SimHashExpr.of(col("text"), 60, useMd5 = true)).collect()
      df.select(CosineExpr.of(col("vec"), col("vec"))).collect()
      df.select(LshBucketsExpr.of(col("vec"),
        Seq(Seq(Seq(1.0, -1.0), Seq(0.5, 0.5))))).collect()
      df.select(RepetitionStatsExpr.of(col("text"))).collect()
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("SimHashExpr is bit-identical to the explode+aggregate pipeline") {
    val edge = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, Some("")), // one empty token — still hashed
      (3L, None), // null text: dropped (explode of null emits nothing)
      (4L, Some("  spaced   out\ttabs and\nnewlines ")),
      (5L, Some("日本語 テキスト の 処理")),
      (6L, Some("one"))
    ).toDF("doc_id", "text")
    for ((bits, md5) <- Seq((64, false), (60, true))) {
      val hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (md5) TextOps.md5Hash60 else (c => xxhash64(c))
      val decl = TextOps.simhashDeclarative(edge, "doc_id", "text", bits, hashFn)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = TextOps.simhash(edge, "doc_id", "text", bits, md5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == decl, s"bits=$bits md5=$md5:\nfast=$fast\ndecl=$decl")
      assert(!fast.contains(3L))
    }
  }

  test("jaccard + shingles behave") {
    val j = docs.filter($"doc_id".isin(1L, 2L))
      .select(TextOps.wordShingles(TextOps.tokens($"text"), 3).as("sh"), $"doc_id")
    val rows = j.collect().map(r => r.getLong(1) -> r.getSeq[String](0)).toMap
    assert(rows(1L).forall(_.split(" ").length == 3))
    val df = Seq((rows(1L), rows(2L))).toDF("a", "b")
      .select(TextOps.jaccard($"a", $"b").as("j"))
    val v = df.head.getDouble(0)
    assert(v > 0.5 && v < 1.0, s"jaccard $v")
  }

  test("ngramJaccardPairs equals the brute-force all-pairs jaccard") {
    val exp = {
      val sh = docs.select(col("doc_id"), TextOps.charShingles(col("text"), 5).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(TextOps.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.3)
        .collect().map(_.toString).sorted.toSeq
    }
    val got = TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .collect().map(_.toString).sorted.toSeq
    assert(got == exp, s"got=$got exp=$exp")
    assert(got.nonEmpty)
  }

  test("CosineExpr is bit-identical to the declarative dot/sqrt pipeline") {
    val rnd = new scala.util.Random(5)
    val rows = (1L to 50L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat), Seq.fill(16)(rnd.nextGaussian().toFloat))
    } :+ ((51L, Seq(1.0f, 2.0f), Seq(1.0f))) // length mismatch → null
    val df = rows.toDF("id", "a", "b")
    val decl = df.select(col("id"), SimilarityOps.cosineDeclarative(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val fast = df.select(col("id"), SimilarityOps.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(fast == decl)
    assert(fast(51L).isEmpty)

    // null ELEMENT nulls the result in both forms
    val withNullElem = Seq((1L, Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f)))).toDF("id", "a", "b")
    assert(withNullElem.select(SimilarityOps.cosine(col("a"), col("b"))).head.isNullAt(0))
    assert(withNullElem.select(SimilarityOps.cosineDeclarative(col("a"), col("b"))).head.isNullAt(0))
  }

  test("brute-force topk is exact and ordered") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("cid", "cvec")
    val qs = vecs.filter($"cid" === 0L).select($"cid".as("qid"), $"cvec".as("qvec"))
    val top = SimilarityOps.bruteForceTopK(qs, vecs, 2).orderBy("rank")
      .select("cid").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L)) // closest first, anti-parallel last
  }

  test("lsh buckets put identical vectors together") {
    val planes = SimilarityOps.hyperplanes(8, 2)
    val df = Seq((0L, Array(1.0f, 0.5f)), (1L, Array(1.0f, 0.5f)), (2L, Array(-1.0f, -0.5f)))
      .toDF("id", "v")
      .select($"id", SimilarityOps.lshBucket($"v", planes).as("b"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == m(1L))
    assert(m(0L) != m(2L)) // antipodal vector flips every sign bit
  }

  test("LshBucketsExpr is bit-identical to the declarative per-bit chain") {
    val rnd = new scala.util.Random(11)
    val tables = (0 until 4).map(t => SimilarityOps.hyperplanes(5, 8, seed = 42L + 1000L * t))
    val rows = (1L to 40L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val decl = rows.select(col("id"), SimilarityOps.lshBucketsDeclarative(col("v"), tables).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fast = rows.select(col("id"), SimilarityOps.lshBuckets(col("v"), tables).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast == decl)

    // null algebra parity: wrong length / null element → all-zero buckets
    val edge = Seq(
      (1L, Seq(Some(1.0f), Some(2.0f))), // dim mismatch (planes are dim 8)
      (2L, Seq(Some(1.0f), None, Some(0.5f), Some(1f), Some(1f), Some(1f), Some(1f), Some(1f)))
    ).toDF("id", "v")
    val declE = edge.select(col("id"), SimilarityOps.lshBucketsDeclarative(col("v"), tables).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fastE = edge.select(col("id"), SimilarityOps.lshBuckets(col("v"), tables).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fastE == declE)
    assert(fastE(1L).forall(_ == 0L))
  }

  test("ivf quantizer fits on a bounded sample yet assigns every candidate") {
    // corpus larger than the fit cap: the quantizer must train on ≤cap
    // rows (sample+limit) while probing still ranks over all candidates
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 600).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("cid", "cvec")
    val queries = vecs.filter(col("cid") < 5).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val topk = SimilarityOps.ivfTopK(queries, vecs, k = 3,
      nlist = 8, nprobe = 8, fitSampleRows = 50)
    val rows = topk.collect()
    // nprobe == nlist → every cell probed → results identical to brute force
    val exact = SimilarityOps.bruteForceTopK(queries, vecs, 3).collect()
    assert(rows.length == exact.length)
    assert(rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet ==
      exact.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet)
  }

  test("persisted IVF index: append assigns ONLY the increment, indexed ≡ fresh, drift telemetry") {
    val rnd = new scala.util.Random(11)
    val all = (0 until 500).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = all.filter(_._1 % 5 != 0).toDF("cid", "cvec")
    val increment = all.filter(_._1 % 5 == 0).toDF("cid", "cvec")
    val full = all.toDF("cid", "cvec")
    val dir = s"/tmp/btr-ivf-index-spec/${System.nanoTime()}"
    SimilarityOps.ivfIndexBuild(corpus, dir, nlist = 8, fitSampleRows = 100)
    val assignPath = SimilarityOps.ivfIndexAssignPath(dir)
    val afterBuild = spark.read.format("btr").load(assignPath)
      .select("cid", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(afterBuild.size == corpus.count().toInt, "build assigns the whole corpus")
    // APPEND: only the increment's rows are assigned and written
    val (n, drift) = SimilarityOps.ivfIndexAppend(increment, dir)
    assert(n == increment.count(), s"append assigned $n rows, not just the increment")
    val afterAppend = spark.read.format("btr").load(assignPath)
      .select("cid", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(afterAppend.size == afterBuild.size + n)
    assert(afterBuild.forall { case (id, c) => afterAppend(id) == c },
      "append must not touch existing assignments")
    // same-distribution increment → no drift warning zone
    assert(drift > 0.8 && drift < 1.25, s"drift ratio $drift")
    // every appended assignment equals a FRESH assignment against the
    // persisted centroids (the incremental path loses nothing)
    val centers = SimilarityOps.centroidsOf(spark, dir).map(_._2)
    val fresh = increment.select(col("cid"),
      element_at(NearestCentersExpr.of(col("cvec"), centers, 1), 1).as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fresh.forall { case (id, c) => afterAppend(id) == c })
    // the indexed query path is row-identical to the per-call shape run
    // against the same centroids (full probe → equals brute force too)
    val queries = full.filter(col("cid") < 5)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIndex = SimilarityOps.ivfTopKIndexed(queries, full, dir, k = 3, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank")))
    val exact = SimilarityOps.bruteForceTopK(queries, full, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank")))
    assert(viaIndex.toSet == exact.toSet,
      s"nprobe=nlist indexed path must equal brute force; got ${viaIndex.length} rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("IVF index refreshes off the CHANGE FEED: each CDC batch appends only its rows") {
    // the 100 TB maintenance loop: index built once from a snapshot,
    // then every change-feed batch assigns incrementally against the
    // persisted centroids — never a corpus re-fit or re-assign
    val rnd = new scala.util.Random(23)
    val dir = s"/tmp/btr-ivf-cdc-spec/${System.nanoTime()}/table"
    val idx = s"/tmp/btr-ivf-cdc-spec/${System.nanoTime()}/index"
    val all = (0 until 400).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    all.filter(_._1 % 4 != 0).toDF("vec_id", "embedding")
      .write.format("btr").mode("overwrite").save(dir)   // v1: corpus
    all.filter(_._1 % 4 == 0).toDF("vec_id", "embedding")
      .write.format("btr").mode("append").save(dir)      // v2: increment
    val v1 = spark.read.format("btr").option("btr.versionAsOf", "1").load(dir)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(v1, idx, nlist = 8, fitSampleRows = 100)
    val feed = graft.sources.BtrChanges.between(spark, dir, 1L, 2L)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (n, drift) = SimilarityOps.ivfIndexAppend(feed, idx)
    assert(n == all.count(_._1 % 4 == 0), s"append must cover exactly the feed, got $n")
    assert(drift > 0.7, s"same-distribution feed, drift=$drift")
    // the assign table now covers the WHOLE current table, once each
    val assigned = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(idx))
      .select("cid").as[Long].collect().sorted.toSeq
    assert(assigned == all.map(_._1).sorted, "assignments = corpus ∪ feed, no dup/miss")
    // and the indexed query path serves the full table (full probe =
    // brute force)
    val cands = spark.read.format("btr").load(dir)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = cands.filter(col("cid") < 3)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, cands, idx, k = 2, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, cands, 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/btr-ivf-cdc-spec"))
  }

  test("CharShinglesExpr equals the declarative char-shingle pipeline") {
    val edge = Seq(
      (1L, Some("abcdefgh")),
      (2L, Some("abc")), // shorter than n → single truncated shingle
      (3L, Some("")),
      (4L, None), // null propagates
      (5L, Some("日本語テキストの処理")), // multi-byte chars count as chars
      (6L, Some("aaaaaaaa")) // duplicates collapse
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 5)) {
      val decl = edge.select(col("doc_id"), TextOps.charShinglesDeclarative(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      val fast = edge.select(col("doc_id"), TextOps.charShingles(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      assert(fast == decl, s"n=$n:\nfast=$fast\ndecl=$decl")
    }
  }

  test("ngram stop-gram bound prunes ubiquitous shingles but keeps true pairs") {
    val corpus = Seq(
      (1L, "hdr the quick brown fox jumps over the lazy dog again and again"),
      (2L, "hdr the quick brown fox jumps over the lazy dog again and again"),
      (3L, "hdr completely different content about columnar compression"),
      (4L, "hdr another unrelated body of text mentioning spark plans")
    ).toDF("doc_id", "text")
    // cap 2: the shared "hdr " prefix shingles (df=4) are dropped; the
    // duplicate pair's body shingles (df=2) survive
    val pairs = TextOps.ngramJaccardPairs(corpus, "doc_id", "text", n = 5,
      threshold = 0.5, maxShingleDF = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs.toString)
    assert(!pairs.exists(p => p._1 >= 3L || p._2 >= 3L), pairs.toString)
  }

  test("connectedComponents labels chains, cliques and singletons with the min id") {
    val ids = (1L to 10L).toDF("id")
    // chain 1-2-3-4 (diameter 3), clique 5-6-7, pair 8-9, singleton 10
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), // chain, mixed direction
      (5L, 6L), (6L, 7L), (5L, 7L),
      (9L, 8L)
    ).toDF("id_a", "id_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L,
      8L -> 8L, 9L -> 8L,
      10L -> 10L)
    // driver union-find fast path (edge count under the cap) ...
    val fast = TextOps.connectedComponents(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected, fast.toString)
    // ... and the distributed label-propagation fallback agree
    val iterative = TextOps.connectedComponents(ids, edges, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iterative == expected, iterative.toString)
  }

  test("langId prefers the language whose stopwords dominate") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist ein guter hund und das ist schön"),
      (3L, "xyzzy qwerty plugh")
    ).toDF("id", "text")
      .select($"id", TextOps.langId(TextOps.tokens($"text")).as("pred"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en")
    assert(m(2L) == "de")
    assert(m(3L) == "und")
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val df = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),
      (3L, "hello worlds")
    ).toDF("id", "text").select($"id", TextOps.fingerprint($"text").as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("frame sampling / resize / feature plumbing is batch-shaped and deterministic") {
    val media = docs.select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val frames = MultimodalOps.sampleFrames(spark, media, everyNth = 2)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    // every kept frame index respects the sampling stride
    assert(rows.forall(_.frame_idx % 2 == 0))
    // per-doc fan-out matches the stub's frame count under the stride
    val byDoc = rows.groupBy(_.doc_id).view.mapValues(_.length).toMap
    val metas = MultimodalOps.extractMeta(spark, media).collect().map(m => m.doc_id -> m.fake_frames).toMap
    byDoc.foreach { case (id, n) =>
      assert(n == (metas(id) + 1) / 2, s"doc $id: $n frames vs meta ${metas(id)}")
    }
    // resize re-tags dimensions and never grows the payload
    val resized = MultimodalOps.resizeFrames(spark, frames, 32, 32).collect()
    assert(resized.forall(f => f.width == 32 && f.height == 32))
    val origSizes = rows.map(f => (f.doc_id, f.frame_idx) -> f.frame_bytes.length).toMap
    assert(resized.forall(f => f.frame_bytes.length <= origSizes((f.doc_id, f.frame_idx))))
    // features: fixed dim, deterministic across runs
    val f1 = MultimodalOps.extractFeatures(spark, frames, dim = 16).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f.features.toSeq).toMap
    val f2 = MultimodalOps.extractFeatures(spark, MultimodalOps.sampleFrames(spark, media, 2), dim = 16)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.features.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == 16))
  }

  test("asOfJoin picks the latest right row at or before each left time") {
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L), (4L, 30L, 10L))
      .toDF("event_id", "user_id", "ts")
    val views = Seq((90L, 10L, 100L, 1.0), (91L, 10L, 200L, 2.0), (92L, 20L, 49L, 3.0))
      .toDF("view_id", "user_id", "ts", "value")
    val out = RelationalOps.asOfJoin(clicks, views, "user_id", "ts", "ts",
        rightTieCols = Seq("view_id"))
      .select("event_id", "asof_view_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == Some(90L), "equal timestamps match (>= semantics)")
    assert(out(2L) == Some(91L), "latest prior view wins")
    assert(out(3L) == Some(92L))
    assert(out(4L) == None, "user with no prior view stays unmatched (left outer)")

    // plan shape: exactly one exchange — both sides shuffle once on the
    // key; the window reuses that partitioning (AQE off so the static
    // physical plan carries its exchanges)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = RelationalOps.asOfJoin(clicks, views, "user_id", "ts", "ts")
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1, s"expected one shuffle, got ${exchanges.length}:\n$plan")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("sessionize splits on gaps strictly greater than maxGap") {
    val ev = Seq((10L, 0L), (10L, 50L), (10L, 150L), (10L, 151L), (20L, 5L))
      .toDF("user_id", "ts")
    val out = RelationalOps.sessionize(ev, "user_id", "ts", maxGap = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((10L, 0L)) == 1L)
    assert(out((10L, 50L)) == 1L, "gap 50 <= 100 stays in session")
    assert(out((10L, 150L)) == 1L, "gap exactly maxGap stays in session")
    assert(out((10L, 151L)) == 1L)
    assert(out((20L, 5L)) == 1L, "each key starts at session 1")
    val out2 = RelationalOps.sessionize(ev, "user_id", "ts", maxGap = 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out2((10L, 150L)) == 2L, "gap 100 > 99 opens session 2")
    assert(out2((10L, 151L)) == 2L)
  }

  test("PII redaction masks emails, IPs and phone runs but not plain text") {
    val rows = Seq(
      (1L, "write to alice.smith+tag@sub.example.co.uk today"),
      (2L, "server at 192.168.1.254 port 8080"),
      (3L, "call +1 555-123-4567 now"),
      (4L, "version 1.2 of chapter 3, page 12"), // no PII: short digit runs stay
      (5L, "bob@x.io or 10.0.0.7 or 020 7946 0958")
    ).toDF("id", "t").select($"id", TextOps.redactPii($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "write to <EMAIL> today")
    assert(rows(2L) == "server at <IP> port 8080")
    assert(rows(3L) == "call <PHONE> now")
    assert(rows(4L) == "version 1.2 of chapter 3, page 12")
    assert(rows(5L) == "<EMAIL> or <IP> or <PHONE>")
  }

  test("contamination flags exactly the docs sharing a benchmark n-gram") {
    val bench = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zzz one two three four five yyy"), // shares the 5-gram
      (2L, "one two three nine five"), // breaks the run → clean
      (3L, "totally unrelated words here now")
    ).toDF("doc_id", "text")
    val flags = TextOps.contaminationFlags(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("sampleKey is deterministic, salt-sensitive and roughly uniform") {
    val df = (0L until 1000L).toDF("id")
    val k1 = df.select(TextOps.sampleKey($"id", "s1").as("k")).collect().map(_.getLong(0))
    val k2 = df.select(TextOps.sampleKey($"id", "s1").as("k")).collect().map(_.getLong(0))
    assert(k1.toSeq == k2.toSeq, "same salt must reproduce the same keys")
    assert(k1.forall(k => k >= 0 && k < 100))
    val hit = k1.count(_ < 10)
    assert(hit > 50 && hit < 150, s"10% band captured $hit of 1000")
    val other = df.select(TextOps.sampleKey($"id", "s2").as("k")).collect().map(_.getLong(0))
    assert(other.toSeq != k1.toSeq, "different salt must change the sample")
  }

  test("real image pixels decode, resize and featurize via ImageIO") {
    import MultimodalOps.PixelOps
    // a genuine PNG: left half black, right half white
    val img = new java.awt.image.BufferedImage(40, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0x000000 else 0xffffff)
    val png = PixelOps.toPng(img)
    val media = Seq((1L, png)).toDF("doc_id", "payload")

    val frames = MultimodalOps.sampleFrames(spark, media, everyNth = 1)
    val fr = frames.collect()
    assert(fr.length == 1, "a still image is one real frame, not the stub fan-out")
    assert(fr(0).width == 40 && fr(0).height == 20, "real decoded dimensions")

    // resize produces an actual 8x8 image, not a truncated blob
    val rs = MultimodalOps.resizeFrames(spark, frames, 8, 8).collect()(0)
    val back = PixelOps.decodeImage(rs.frame_bytes).get
    assert(back.getWidth == 8 && back.getHeight == 8)
    // pixel content survived the rescale: left dark, right bright
    assert((back.getRGB(1, 4) & 0xff) < 64 && (back.getRGB(6, 4) & 0xff) > 192)

    // grid features measure real luminance: [dark, bright, dark, bright]
    val feats = MultimodalOps.extractFeatures(spark, frames, dim = 4).collect()(0).features
    assert(feats(0) < 0.2f && feats(1) > 0.8f && feats(2) < 0.2f && feats(3) > 0.8f,
      s"expected left-dark/right-bright grid, got ${feats.toSeq}")
  }

  test("embedding LSH near-dup pairs find planted high-cosine duplicates") {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, randVec()))
    // plant 5 near-duplicate pairs at ids 1000+
    val dups = (0 until 5).map(i => (1000L + i, perturb(base(i)._2)))
    val all = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.lshNearDupPairs(all, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"missed planted dup $i: $pairs")
    }
    // no spurious high-cosine pairs among random vectors
    assert(pairs.size == 5, pairs.toString)
  }

  test("image headers decode REAL dimensions (PNG/JPEG/GIF/BMP), opaque bytes stay stubbed") {
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics(); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"jdk can't write $fmt")
      bos.toByteArray
    }
    val payloads = Seq(
      (1L, imageBytes("png", 123, 45)),
      (2L, imageBytes("jpg", 300, 17)),
      (3L, imageBytes("gif", 64, 200)),
      (4L, imageBytes("bmp", 31, 9)),
      (5L, "definitely not an image payload".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val metas = MultimodalOps.extractMeta(spark, payloads).collect()
      .map(m => m.doc_id -> m).toMap
    assert(metas(1L).format == "png" && metas(1L).width == 123 && metas(1L).height == 45)
    assert(metas(2L).format == "jpeg" && metas(2L).width == 300 && metas(2L).height == 17)
    assert(metas(3L).format == "gif" && metas(3L).width == 64 && metas(3L).height == 200)
    assert(metas(4L).format == "bmp" && metas(4L).width == 31 && metas(4L).height == 9)
    assert(metas(5L).format == "opaque" && metas(5L).width == 0 && metas(5L).height == 0)
  }

  test("WAV and MP4 container headers decode real metadata") {
    // real WAV via javax.sound (16 kHz stereo, 16-bit PCM)
    val fmtA = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](3200)), fmtA, 800)
    val bosW = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bosW)
    val wavBytes = bosW.toByteArray

    // minimal ISO-BMFF: ftyp + moov > trak > tkhd(v0) with 640x360
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val tkhdBody = new Array[Byte](84)
    System.arraycopy(be32(640 << 16), 0, tkhdBody, 76, 4)
    System.arraycopy(be32(360 << 16), 0, tkhdBody, 80, 4)
    val tkhd = be32(92) ++ "tkhd".getBytes ++ tkhdBody
    val trak = be32(100) ++ "trak".getBytes ++ tkhd
    val moov = be32(108) ++ "moov".getBytes ++ trak
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(0)
    val mp4Bytes = ftyp ++ moov

    val metas = MultimodalOps.extractMeta(spark,
      Seq((1L, wavBytes), (2L, mp4Bytes)).toDF("doc_id", "payload"))
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas(1L).format == "wav" && metas(1L).sample_rate == 16000 && metas(1L).channels == 2,
      metas(1L).toString)
    assert(metas(2L).format == "mp4" && metas(2L).width == 640 && metas(2L).height == 360,
      metas(2L).toString)
  }

  test("FLAC and MP3 frame headers decode real sample rate and channels") {
    // FLAC: fLaC magic + STREAMINFO block (type 0, last, 34-byte body);
    // 48 kHz / 2 channels / 16-bit packed at body offset 10:
    // rate(20 bits)=48000=0x0BB80, ch-1(3)=1, bps-1(5)=15
    val streaminfo = new Array[Byte](34)
    streaminfo(10) = 0x0b.toByte
    streaminfo(11) = 0xb8.toByte
    streaminfo(12) = ((0 << 4) | (1 << 1) | 1).toByte // rate low nibble, ch-1=1, bps msb
    streaminfo(13) = 0xf0.toByte
    val flacBytes: Array[Byte] = "fLaC".getBytes ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ streaminfo
    // MP3: ID3v2 tag (empty, synchsafe size 0) then an MPEG1 Layer III
    // frame header: FF FB=sync+v1+L3, 0x90=128kbps+44100, 0xC0=mono
    val mp3Bytes: Array[Byte] = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 0) ++
      Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0xc0.toByte) ++ new Array[Byte](64)
    // reserved version bits must NOT sniff as mp3
    val bogus: Array[Byte] =
      Array[Byte](0xff.toByte, 0xeb.toByte, 0x9c.toByte, 0xc0.toByte) ++ new Array[Byte](16)

    val metas = MultimodalOps.extractMeta(spark,
      Seq((1L, flacBytes), (2L, mp3Bytes), (3L, bogus)).toDF("doc_id", "payload"))
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas(1L).format == "flac" && metas(1L).sample_rate == 48000 && metas(1L).channels == 2,
      metas(1L).toString)
    assert(metas(2L).format == "mp3" && metas(2L).sample_rate == 44100 && metas(2L).channels == 1,
      metas(2L).toString)
    assert(metas(3L).format == "opaque" && metas(3L).sample_rate == 0, metas(3L).toString)
  }

  test("multimodal extractMeta is deterministic over binary payloads") {
    val media = docs.select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val metas = MultimodalOps.extractMeta(spark, media).collect().sortBy(_.doc_id)
    assert(metas.length == 4)
    assert(metas(0).n_bytes == docs.head.getString(1).length)
    assert(metas(0).header == 't'.toInt)
    // doc 1 and 4 share identical payloads → identical metadata
    assert(metas(0).copy(doc_id = 4L) == metas(3))
  }

  test("positional word shingles keep duplicates in window order") {
    val rows = Seq((1L, "a b a b"), (2L, "x"), (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select($"id", WordShinglesExpr.of($"t", 2, distinct = false))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L) == Seq("a b", "b a", "a b"))
    assert(rows(2L).isEmpty && rows(3L).isEmpty)
  }

  test("repetition signals match hand-computed Gopher-style metrics") {
    val data = Seq(
      (1L, "a a a a"), // 4 words, 1 distinct; bigrams 3x"a a"; trigrams 2x"a a a"
      (2L, "w x y z"), // fully diverse
      (3L, "go go stop") // 3 words: bigrams "go go","go stop" distinct
    ).toDF("doc_id", "text")
    val sig = TextOps.repetitionSignals(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val r1 = sig(1L)
    assert(r1.getInt(1) == 4)
    assert(r1.getDouble(2) == 0.25) // 1/4 distinct words
    assert(r1.getDouble(3) == 0.6667) // 1 - 1/3 bigrams distinct
    assert(r1.getDouble(4) == 0.5) // 1 - 1/2 trigrams distinct
    assert(r1.getDouble(5) == 1.0) // top word "a" is every word
    assert(r1.getDouble(6) == 1.0) // top bigram "a a" is every bigram

    val r2 = sig(2L)
    assert(r2.getDouble(2) == 1.0 && r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0)
    assert(r2.getDouble(5) == 0.25) // each word once out of 4
    assert(r2.getDouble(6) == 0.3333) // each bigram once out of 3

    val r3 = sig(3L)
    assert(r3.getInt(1) == 3)
    assert(r3.getDouble(2) == 0.6667) // 2/3 distinct
    assert(r3.getDouble(5) == 0.6667) // "go" 2/3
    assert(r3.getDouble(6) == 0.5) // both bigrams once out of 2
  }

  test("RepetitionStatsExpr counts are identical to the declarative explode pipeline") {
    val data = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val kernel = data.select($"doc_id", RepetitionStatsExpr.of($"text").as("r"))
      .select($"doc_id", $"r.n_words", $"r.distinct_words", $"r.top_word_c",
        $"r.n_bigrams", $"r.distinct_bigrams", $"r.top_bigram_c",
        $"r.n_trigrams", $"r.distinct_trigrams")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val base = data.select($"doc_id", TextOps.tokens($"text").as("toks"),
      WordShinglesExpr.of($"text", 2, distinct = false).as("bg"),
      WordShinglesExpr.of($"text", 3, distinct = false).as("tg"))
    val decl = base
      .select($"doc_id",
        size($"toks").as("nw"), size(array_distinct($"toks")).as("dw"),
        size($"bg").as("nb"), size(array_distinct($"bg")).as("db"),
        size($"tg").as("nt"), size(array_distinct($"tg")).as("dt"),
        expr("array_max(transform(array_distinct(toks), w -> size(filter(toks, x -> x = w))))").as("tw"),
        expr("coalesce(array_max(transform(array_distinct(bg), w -> size(filter(bg, x -> x = w)))), 0)").as("tb"))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(7), r.getInt(3), r.getInt(4), r.getInt(8),
          r.getInt(5), r.getInt(6))).toMap
    assert(kernel.keySet == decl.keySet)
    kernel.foreach { case (id, k) =>
      assert(k == decl(id), s"doc $id: kernel $k vs declarative ${decl(id)}")
    }
  }

  test("boilerplate n-grams rank corpus-wide repeated shingles with doc frequency") {
    val data = Seq(
      (1L, "click here to subscribe now for more"),
      (2L, "breaking news click here to subscribe now"),
      (3L, "click here to subscribe now said the dog"),
      (4L, "nothing shared with anything else at all")
    ).toDF("doc_id", "text")
    val top = TextOps.boilerplateNgrams(data, "doc_id", "text", n = 5, topK = 3)
      .collect()
    assert(top.head.getString(0) == "click here to subscribe now")
    assert(top.head.getLong(1) == 3 && top.head.getLong(2) == 3)
    // remaining grams all occur once; ordering is deterministic (gram asc)
    assert(top.map(_.getLong(1)).toSeq == Seq(3L, 1L, 1L))
    assert(top(1).getString(0) < top(2).getString(0))
  }

  test("PCM WAV payloads decode real samples: duration, RMS, peak, zero crossings") {
    import MultimodalOps.PcmOps
    // hand-built 16-bit mono WAV: 8 kHz, 0.5 s of a full-scale 1 kHz square
    // wave (alternating +/- every 4 samples) → rms=peak=1, zcr=1/4
    val rate = 8000
    val n = 4000
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if ((i / 4) % 2 == 0) 32767 else -32767
      data(i * 2) = (v & 0xff).toByte
      data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(rate) ++
      le32(rate * 2) ++ le16(2) ++ le16(16)
    val wav = "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      fmt ++ "data".getBytes ++ le32(data.length) ++ data

    val f = PcmOps.featuresOf(wav).get
    assert(f.sampleRate == rate && f.channels == 1 && f.bitsPerSample == 16)
    assert(f.nFrames == n)
    assert(math.abs(f.durationMs - 500.0) < 1e-9)
    assert(math.abs(f.rms - 32767.0 / 32768.0) < 1e-6)
    assert(math.abs(f.peak - 32767.0 / 32768.0) < 1e-6)
    assert(math.abs(f.zeroCrossRate - 999.0 / 3999.0) < 1e-6, f.zeroCrossRate.toString)

    // javax.sound-written stereo silence decodes too (validates chunk walk
    // against an independent writer), and silence has rms = peak = 0
    val fmtA = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](3200)), fmtA, 800)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val silent = PcmOps.featuresOf(bos.toByteArray).get
    assert(silent.sampleRate == 16000 && silent.channels == 2 && silent.nFrames == 800)
    assert(silent.rms == 0.0 && silent.peak == 0.0)

    // the DataFrame op routes WAV to real features and compressed audio
    // to header-only rows
    val streaminfo = new Array[Byte](34)
    streaminfo(10) = 0x0b.toByte
    streaminfo(11) = 0xb8.toByte
    streaminfo(12) = 0x02.toByte
    val flacBytes: Array[Byte] = "fLaC".getBytes ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ streaminfo
    val out = MultimodalOps.extractAudioFeatures(spark,
      Seq((1L, wav), (2L, flacBytes), (3L, "not audio".getBytes)).toDF("doc_id", "payload"))
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).format == "wav" && out(1L).n_frames == n && out(1L).rms > 0.99)
    assert(out(2L).format == "flac" && out(2L).sample_rate == 48000 && out(2L).n_frames == 0)
    assert(out(3L).format == "opaque" && out(3L).sample_rate == 0)
  }

  test("Y4M streams demux real frames: header fields, luma planes, truncation") {
    import MultimodalOps.VideoOps
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    // 4×2 Cmono, two frames with known luma values
    val f0 = Array.tabulate(8)(i => (10 * i).toByte)
    val f1 = Array.tabulate(8)(i => (255 - i).toByte)
    val y4m = VideoOps.y4mHeader(4, 2, 25).getBytes(iso) ++
      "FRAME\n".getBytes(iso) ++ f0 ++ "FRAME\n".getBytes(iso) ++ f1
    assert(VideoOps.decodeY4mHeader(y4m).contains((4, 2, "mono")))
    val frames = VideoOps.y4mLumaFrames(y4m).get
    assert(frames.length == 2)
    assert(frames(0)._2.toSeq == f0.toSeq && frames(1)._2.toSeq == f1.toSeq)

    // 420 colorspace: chroma planes are skipped, luma comes back exact
    val luma420 = Array.tabulate(8)(i => (i + 1).toByte)
    val chroma = new Array[Byte](4) // 2×(2×1) for 4×2
    val y420 = "YUV4MPEG2 W4 H2 F30:1 Ip A1:1 C420jpeg\n".getBytes(iso) ++
      "FRAME\n".getBytes(iso) ++ luma420 ++ chroma
    val fr420 = VideoOps.y4mLumaFrames(y420).get
    assert(fr420.length == 1 && fr420.head._2.toSeq == luma420.toSeq)

    // truncated trailing frame stops cleanly, keeping the complete ones
    val truncated = y4m.dropRight(3)
    assert(VideoOps.y4mLumaFrames(truncated).get.length == 1)

    // a FRAME line with parameters still parses
    val withParams = VideoOps.y4mHeader(4, 2, 25).getBytes(iso) ++
      "FRAME Xsomething\n".getBytes(iso) ++ f0
    assert(VideoOps.y4mLumaFrames(withParams).get.length == 1)

    // non-Y4M payloads are rejected at the magic
    assert(VideoOps.decodeY4mHeader("JUNKDATA\n1234".getBytes(iso)).isEmpty)
  }

  test("MJPEG payloads split on real JPEG segment structure and decode frames") {
    import MultimodalOps.{PixelOps, VideoOps}
    def jpegOf(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val a = jpegOf(6, 4, 0xffffff)
    val b = jpegOf(3, 5, 0x000000)
    val mjpeg = a ++ b ++ a
    val frames = VideoOps.mjpegFrames(mjpeg).get
    assert(frames.length == 3)
    assert(frames(0)._2.getWidth == 6 && frames(0)._2.getHeight == 4)
    assert(frames(1)._2.getWidth == 3 && frames(1)._2.getHeight == 5)
    // white frame's luma ≈ 255, black ≈ 0 (JPEG is lossy — allow slack)
    val l0 = PixelOps.lumaBytes(frames(0)._2).map(_ & 0xff)
    val l1 = PixelOps.lumaBytes(frames(1)._2).map(_ & 0xff)
    assert(l0.forall(_ > 240) && l1.forall(_ < 16))
    // a single JPEG is an image, not MJPEG; garbage is neither
    assert(VideoOps.mjpegFrames(a).isEmpty)
    assert(VideoOps.mjpegFrames("nope".getBytes).isEmpty)

    // 0xFF fill bytes may pad any marker (ISO 10918-1 B.1.1.2): splice
    // one before a mid-stream segment marker and one before EOI — the
    // splitter must still find the exact frame bounds
    def padded(j: Array[Byte]): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      out += j(0) += j(1) // SOI
      out += 0xFF.toByte // fill before the first segment marker
      out ++= j.slice(2, j.length - 2)
      out += 0xFF.toByte // fill before EOI
      out += j(j.length - 2) += j(j.length - 1)
      out.toArray
    }
    val padMjpeg = padded(a) ++ b ++ padded(a)
    val padFrames = VideoOps.mjpegFrames(padMjpeg).get
    assert(padFrames.length == 3, "fill-byte-padded JPEG frames must still split")
    assert(padFrames(0)._2.getWidth == 6 && padFrames(2)._2.getWidth == 6)

    // end-to-end: sampleFrames emits REAL frames for both containers
    import spark.implicits._
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val y4m = VideoOps.y4mHeader(4, 2, 25).getBytes(iso) ++
      "FRAME\n".getBytes(iso) ++ Array.tabulate(8)(i => (10 * i).toByte) ++
      "FRAME\n".getBytes(iso) ++ Array.tabulate(8)(i => (20 * i).toByte)
    val media = Seq((1L, mjpeg), (2L, y4m)).toDF("doc_id", "payload")
    val got = MultimodalOps.sampleFrames(spark, media, everyNth = 1).collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    assert(got(1L).length == 3 && got(1L).head.width == 6)
    assert(got(2L).length == 2 && got(2L).head.width == 4 && got(2L).head.height == 2)
    // the emitted Y4M frame re-decodes to the original luma plane (raw
    // raster samples — getRGB would apply gray→sRGB gamma conversion)
    val png = PixelOps.decodeImage(got(2L).head.frame_bytes).get
    val raster = png.getRaster
    val vals = for (y <- 0 until 2; x <- 0 until 4) yield raster.getSample(x, y, 0)
    assert(vals == (0 until 8).map(_ * 10), vals.toString)
  }

  test("kmeansClusters: deterministic, total, and locally optimal assignments") {
    import spark.implicits._
    // three well-separated blobs in 2-D
    val rnd = new java.util.Random(7)
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 8.0))
    val pts = (0 until 90).map { i =>
      val (cx, cy) = centers(i % 3)
      (i.toLong, Seq((cx + rnd.nextGaussian() * 0.5).toFloat,
        (cy + rnd.nextGaussian() * 0.5).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = graft.functions.SimilarityOps
      .kmeansClusters(df, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 90, "every point assigned exactly once")
    // well-separated blobs: each true blob lands in ONE cluster
    val byBlob = pts.map(_._1).groupBy(_ % 3).view.mapValues(_.map(out).toSet).toMap
    byBlob.values.foreach(s => assert(s.size == 1, s"blob split across $s"))
    assert(byBlob.values.flatten.toSet.size == 3, "three distinct clusters")
    // determinism: a second run is bit-identical
    val again = graft.functions.SimilarityOps
      .kmeansClusters(df, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == out)
  }

  test("autoK sizes k from the corpus and bounds per-cluster pair work") {
    import spark.implicits._
    val S = graft.functions.SimilarityOps
    def corpus(n: Int) = {
      val rnd = new java.util.Random(11)
      (0 until n).map(i => (i.toLong,
        Seq(rnd.nextGaussian().toFloat, rnd.nextGaussian().toFloat))).toDF("id", "vec")
    }
    val small = corpus(500)
    val large = corpus(2000)
    assert(S.autoK(small, targetClusterSize = 100) == 5)
    assert(S.autoK(large, targetClusterSize = 100) == 20)
    assert(S.autoK(large, targetClusterSize = 100, maxK = 8) == 8, "bounded by maxK")
    assert(S.autoK(corpus(3), targetClusterSize = 100) == 1, "floored at 1")

    // the auto path keeps per-cluster sizes near the target at BOTH
    // corpus sizes — bounded pairwise work is the whole point
    def maxClusterSize(df: org.apache.spark.sql.DataFrame, target: Int): Long = {
      val assigned = S.kmeansClustersAuto(df, "id", "vec", target, iters = 3)
      assigned.groupBy("cluster").count().collect().map(_.getLong(1)).max
    }
    // gaussian blobs cluster unevenly; 4x the target is a loose but
    // scale-proof bound (a fixed k would grow per-cluster size LINEARLY
    // with the corpus instead)
    assert(maxClusterSize(small, 100) <= 400)
    assert(maxClusterSize(large, 100) <= 400)
  }

  test("semanticDedup caps per-cluster pair work with non-silent telemetry") {
    import spark.implicits._
    val S = graft.functions.SimilarityOps
    // one tight duplicate class of 40 (off-plane) + 60 singletons fanned
    // 0.1 rad apart in the xy-plane: adjacent-singleton cosine is
    // cos(0.1) ≈ 0.995 < 0.999 and class-to-singleton cosine ≤ 0.28 —
    // no accidental near-dups
    val docs = (0 until 40).map(i => (i.toLong,
        Seq(1.0f + (i % 3) * 1e-4f, 1.0f, 5.0f))) ++
      (40 until 100).map(i => (i.toLong,
        Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat, 0.0f)))
    val df = docs.toDF("id", "vec")
    val exhaustive = S.semanticDedup(df, "id", "vec", k = 4, iters = 2,
      threshold = 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(S.lastOversizedClusters.get(spark) == ((0L, 0L)),
      "generous cap: every cluster exhaustive")
    assert(!exhaustive.exists(id => id > 0 && id < 40),
      "the duplicate class collapses to id 0")

    // a tiny cap forces the representative path on the big cluster:
    // telemetry is non-zero and the duplicate class STILL collapses
    // (every member connects through the min-id representative)
    val capped = S.semanticDedup(df, "id", "vec", k = 4, iters = 2,
      threshold = 0.999, maxClusterCompareSize = 10)
      .collect().map(_.getLong(0)).toSet
    val (bigClusters, members) = S.lastOversizedClusters.get(spark)
    assert(bigClusters >= 1 && members >= 40L,
      s"telemetry must surface the capped cluster(s): ($bigClusters, $members)")
    assert(capped == exhaustive,
      "representative pairing keeps the duplicate class connected")
  }
}
