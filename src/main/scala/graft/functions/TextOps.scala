package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, MinHash+LSH dedup, SimHash dedup, language ID,
  * quality scoring, fingerprinting. Everything is built from codegen'd
  * Spark SQL functions (no UDFs) so plans stay inside whole-stage codegen
  * and scale with ordinary shuffles.
  *
  * Cache lifetime (shared with [[SimilarityOps]]): an intermediate that
  * no returned DataFrame reads is persisted for the call only and
  * released in `finally` ([[withCached]]). Rows a returned DataFrame
  * reads are a `Dataset.localCheckpoint`: the caller owns the result,
  * and Spark's ContextCleaner frees its blocks once it is unreachable.
  * The cost: a local checkpoint's blocks are not recomputed if the
  * executor holding them is lost — re-run the operator instead.
  */
object TextOps {

  /** Persist `df` (memory with disk spill) for the span of `body` and
    * unpersist it in `finally`, so neither a return nor an exception
    * leaves the entry in the session CacheManager.
    */
  private[functions] def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally cached.unpersist(blocking = false)
  }

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles, joined by single spaces. Documents with
    * fewer than n tokens yield an empty set (matching the oracle's
    * generate_series(1, len-n+1) semantics), not a truncated shingle.
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-gram shingles of a string (codegen'd
    * [[CharShinglesExpr]]; bit-equality with [[charShinglesDeclarative]]
    * is spec-proven).
    */
  def charShingles(text: Column, n: Int): Column = CharShinglesExpr.of(text, n)

  /** Declarative reference implementation (spec baseline). */
  private[functions] def charShinglesDeclarative(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Exact character-n-gram Jaccard pairs ≥ threshold, inverted-index
    * shape: explode each document's distinct shingles, equi-join on the
    * shingle (one shuffle), count shared shingles per (id_a, id_b), then
    * derive Jaccard from the two set sizes — |A∪B| = |A|+|B|-|A∩B|.
    * Each pair's intersection is COUNTED by the aggregate, never
    * re-scanned: no all-pairs nested-loop join, no array_intersect in a
    * join condition. Pairs sharing zero shingles drop out of the
    * equi-join, which is exactly the threshold>0 contract. Skew note: a
    * shingle occurring in k docs contributes k² join rows; for corpus-
    * scale runs, cap or drop shingles with document frequency above a
    * stop-gram bound first (they carry no dedup signal).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDF: Int = 0
  ): DataFrame = {
    // the char-shingle projection is the op's most expensive pass and
    // feeds FOUR plan branches (the exploded join's map side plus the
    // sizes table joined back on each pair end): cache it and
    // materialize ONCE up front, so every branch reads the cache instead
    // of re-shingling the corpus (round 22 — the same discipline as
    // minhashDedup's shingle cache; measured ~3 evaluations per action
    // before). The pairs are checkpointed before the shingle cache is
    // released.
    withCached(docs.select(col(idCol).as("id"), charShingles(col(textCol), n).as("sh"))) { sh =>
      sh.count()
      val sizes = sh.select(col("id"), size(col("sh")).as("sz"))
      val exAll = sh.select(col("id"), explode(col("sh")).as("g"))
      // stop-gram bound (the skew guard for corpus scale): a shingle in k
      // docs contributes k² join rows, and ubiquitous shingles carry no
      // dedup signal. Dropping them UNDER-counts intersections slightly →
      // jaccard becomes a lower bound; 0 disables (exact, the oracle mode).
      val ex =
        if (maxShingleDF <= 0) exAll
        else exAll.join(
          exAll.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") <= maxShingleDF)
            .select("g"),
          "g")
      val inter = ex.as("x").join(ex.as("y"),
          col("x.g") === col("y.g") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .agg(count(lit(1)).as("n_inter"))
      val szA = sizes.select(col("id").as("id_a"), col("sz").as("sz_a"))
      val szB = sizes.select(col("id").as("id_b"), col("sz").as("sz_b"))
      val ni = col("n_inter").cast("double")
      inter.join(szA, "id_a").join(szB, "id_b")
        .select(col("id_a"), col("id_b"),
          round(ni / (col("sz_a") + col("sz_b") - ni), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint()
    }
  }

  // ---- MinHash --------------------------------------------------------

  /** Mersenne prime 2^31-1; shingle hashes and permutation parameters live
    * below it so a*h+b stays inside a 64-bit long.
    */
  private val P = 2147483647L

  /** Deterministic permutation parameters (a_k odd, b_k), seeded. */
  private def perm(k: Int): (Long, Long) = {
    val rnd = new scala.util.Random(0x5EED0000L + k)
    (math.abs(rnd.nextLong()) % (P - 1) + 1, math.abs(rnd.nextLong()) % P)
  }

  /** Let-binding: evaluate `value` once per row and derive `body` from it.
    * Catalyst collapses projections and duplicates sub-expressions across
    * `array()` children, so wrapping the shared array in a single-element
    * `transform` lambda is the way to force one evaluation (85 s → ~5 s on
    * the sf0.1 minhash pass).
    */
  private def letBound(value: Column, body: Column => Column): Column =
    transform(array(value), body).getItem(0)

  /** MinHash signature (array of k minima) over a shingle array. The
    * shingle-hash array is let-bound so xxhash64 runs once per shingle,
    * not once per permutation.
    */
  def minhash(shingles: Column, k: Int): Column = {
    // native one-pass signature expression; bit-equality with
    // [[minhashDeclarative]] is spec-proven
    val (pa, pb) = minhashParams(k)
    MinHashExpr.of(shingles, pa, pb)
  }

  /** The k seeded permutation parameter vectors (a, b) behind [[minhash]]
    * — shared with the SQL registration so `minhash_sig(shingles, k)`
    * computes the identical signature.
    */
  private[graft] def minhashParams(k: Int): (Seq[Long], Seq[Long]) = {
    val perms = (0 until k).map(perm)
    (perms.map(_._1), perms.map(_._2))
  }

  /** Declarative reference implementation (the spec baseline proving
    * [[MinHashExpr]] bit-equal; interpreted HOFs, slower).
    */
  private[functions] def minhashDeclarative(shingles: Column, k: Int): Column = {
    val perms = (0 until k).map(perm)
    val aArr = array(perms.map(p => lit(p._1)): _*)
    val bArr = array(perms.map(p => lit(p._2)): _*)
    letBound(
      transform(shingles, s => pmod(xxhash64(s), lit(P))),
      hs =>
        transform(
          sequence(lit(0), lit(k - 1)),
          i =>
            array_min(
              transform(hs, h => (element_at(aArr, i + 1) * h + element_at(bArr, i + 1)) % lit(P)))))
  }

  /** Band signatures for LSH: `bands` hashes, each over `rows` adjacent
    * signature entries (k = bands*rows). The signature array is let-bound
    * so it is computed once, not once per band.
    */
  def bandSignatures(mh: Column, bands: Int, rows: Int): Column =
    letBound(
      mh,
      m => transform(sequence(lit(0), lit(bands - 1)), b => xxhash64(slice(m, b * rows + 1, lit(rows)))))

  /** Full MinHash+LSH near-duplicate pipeline:
    * docs(idCol, textCol) → verified pairs (id_a, id_b, jaccard ≥ threshold).
    *
    * Scale shape: one shuffle on (band, signature) to form candidate
    * buckets (bucket join, no cross product), then an exact-verify join of
    * the candidate pairs against the shingle sets. Dense buckets only
    * blow up if the corpus contains huge equivalence classes — exactly the
    * rows a dedup pass wants to find.
    */
  def minhashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1024
  ): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"minhashDedup: numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rows = numHashes / bands
    // shingling is the most expensive projection and feeds three plan
    // branches (signatures + both sides of the verify join) — cache it
    // instead of recomputing per branch. WordShinglesExpr is the codegen'd
    // single-pass form of wordShingles(tokens(...)) (same trim/split/join
    // semantics, spec-proven equal).
    withCached(docs.select(
        col(idCol).as("id"),
        WordShinglesExpr.of(col(textCol), shingleSize).as("shingles"))) { sh =>
      val sig = sh.select(col("id"), col("shingles"),
        bandSignatures(minhash(col("shingles"), numHashes), bands, rows).as("bands"))
      // the banded rows feed only the bucket window now: lshCandidates
      // checkpoints its POST-window sized rows (round 22), whose exchange
      // map side evaluates the expensive MinHash signature pass exactly
      // once per call — the r21 pre-window persist here became pure
      // overhead (an extra copy of rows read exactly once) and was dropped
      val exploded = sig.select(col("id"), posexplode(col("bands")).as(Seq("band", "sig")))
      val cand = lshCandidates(exploded, Seq("band", "sig"), maxBucketSize)
      val shA = sh.select(col("id").as("id_a"), col("shingles").as("sh_a"))
      val shB = sh.select(col("id").as("id_b"), col("shingles").as("sh_b"))
      // checkpoint the (much smaller) verified pairs so the shingle cache
      // can be released before returning
      cand.join(shA, "id_a").join(shB, "id_b")
        .select(col("id_a"), col("id_b"),
          round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint()
    }
  }

  /** INCREMENTAL MinHash+LSH near-dup: pairs (id_new, id_corpus, jaccard
    * ≥ threshold) between an increment's docs and the existing corpus —
    * the change-feed admission shape. Unlike running [[minhashDedup]]
    * over corpus+increment (full-corpus candidate work every batch),
    * only the INCREMENT is shingled/signed fresh and its band rows are
    * equi-joined against the corpus's band rows: per-batch cost is
    * O(increment × bands) probe rows plus the (small) verified-candidate
    * join — never corpus × corpus. At 100 TB the corpus side is a
    * PERSISTED banded-signature index table maintained alongside the
    * corpus (this function recomputes it from `corpus` for the
    * self-contained form; feed it the index instead via the same band
    * schema); corpus-side viral buckets (one text duplicated millions of
    * times) degrade to min-id representative pairing above
    * `maxBucketSize`, non-silently ([[lastOversizedBuckets]]), so one
    * hot bucket can't make a batch quadratic.
    */
  def minhashIncrement(
      corpus: DataFrame,
      increment: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1024
  ): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"minhashIncrement: numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rows = numHashes / bands
    def prep(df: DataFrame): DataFrame = df.select(
      col(idCol).as("id"),
      WordShinglesExpr.of(col(textCol), shingleSize).as("shingles"))
    def bandRows(sh: DataFrame): DataFrame = sh.select(col("id"),
        bandSignatures(minhash(col("shingles"), numHashes), bands, rows).as("bands"))
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "sig")))
    // corpus bucket sizing (precomputed in the persisted-index form):
    // small buckets join exhaustively, oversized ones expose only their
    // min-id representative — linear in bucket size, loudly telemetered
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("sig"))
    withCached(prep(corpus)) { shC =>
      withCached(prep(increment)) { shN =>
        // the sized corpus band rows feed THREE plan branches (the telemetry
        // aggregate, smallC and bigRepsC — the latter two land in the same
        // final action as separate subtrees), so without a cache the corpus
        // signature pass + window shuffle evaluate three times per batch.
        // Cache the NARROW post-window rows once (round 21).
        withCached(bandRows(shC)
            .withColumn("bsz", count(lit(1)).over(w))
            .withColumn("rep", min(col("id")).over(w))) { sizedC =>
          locally {
            val spark = corpus.sparkSession
            val big = sizedC.filter(col("bsz") > maxBucketSize)
              .agg(count_distinct(struct(col("band"), col("sig"))).as("buckets"),
                count(lit(1)).as("members"))
              .collect()(0)
            lastOversizedBuckets.put(spark, (big.getLong(0), big.getLong(1)))
            if (big.getLong(0) > 0)
              org.apache.log4j.Logger.getLogger(getClass).warn(
                s"minhashIncrement: ${big.getLong(0)} corpus bucket(s) over " +
                  s"maxBucketSize=$maxBucketSize (${big.getLong(1)} member rows) expose " +
                  "only their min-id representative — recall within those buckets is " +
                  "reduced; raise maxBucketSize")
          }
          val smallC = sizedC.filter(col("bsz") <= maxBucketSize)
            .select(col("id"), col("band"), col("sig"))
          val bigRepsC = sizedC.filter(col("bsz") > maxBucketSize)
            .select(col("rep").as("id"), col("band"), col("sig")).distinct()
          val nx = bandRows(shN)
          val cand = nx.as("n")
            .join(smallC.union(bigRepsC).as("c"), Seq("band", "sig"))
            .select(col("n.id").as("id_new"), col("c.id").as("id_corpus")).distinct()
          cand
            .join(shN.select(col("id").as("id_new"), col("shingles").as("sh_n")), "id_new")
            .join(shC.select(col("id").as("id_corpus"), col("shingles").as("sh_c")), "id_corpus")
            .select(col("id_new"), col("id_corpus"),
              round(jaccard(col("sh_n"), col("sh_c")), 4).as("jaccard"))
            .filter(col("jaccard") >= threshold)
            .localCheckpoint()
        }
      }
    }
  }

  /** (oversized buckets, member rows) of the most recent [[lshCandidates]]
    * run in a session — the representative-path recall-trade telemetry
    * (0, 0) means every bucket was exhaustive. */
  val lastOversizedBuckets =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, (Long, Long)]()

  /** Candidate pairs from LSH buckets, with a skew guard: buckets up to
    * maxBucketSize produce all-pairs (exhaustive); larger buckets — one
    * viral duplicate class can otherwise make a single bucket quadratic —
    * pair every member with the bucket's min-id representative instead
    * (linear, and still connects the whole class to one canonical doc).
    * Input must have an `id` column plus the bucket-key columns.
    */
  private[functions] def lshCandidates(
      exploded: DataFrame,
      bucketCols: Seq[String],
      maxBucketSize: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(bucketCols.map(col): _*)
    // checkpoint the POST-window rows (round 22): sized feeds THREE
    // consumers — the telemetry aggregate below (which doubles as the
    // checkpoint's materializing action) and both candidate branches (the
    // small-bucket self-join's two sides + the representative branch in
    // one final action). Without it each consumer re-ran the window
    // reduce over the bucket-key exchange — and everything BELOW the
    // window (the signature/projection pass when the caller did not
    // cache its own input) — per evaluation. Narrow rows: id + bucket
    // keys + two longs. A checkpoint, not a call-scoped cache, because
    // the returned candidates read it.
    val sized = exploded
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("rep", min(col("id")).over(w))
      .localCheckpoint(eager = false)
    // the representative path is a recall trade (members of an oversized
    // bucket only connect through its min-id doc) — it must never trigger
    // SILENTLY. One small aggregate job surfaces how many buckets (and
    // members) took it; specs and operators read it per session.
    locally {
      val spark = exploded.sparkSession
      val big = sized.filter(col("bsz") > maxBucketSize)
        .agg(count_distinct(struct(bucketCols.map(col): _*)).as("buckets"),
          count(lit(1)).as("members"))
        .collect()(0)
      val (buckets, members) = (big.getLong(0), big.getLong(1))
      lastOversizedBuckets.put(spark, (buckets, members))
      if (buckets > 0)
        org.apache.log4j.Logger.getLogger(getClass).warn(
          s"lshCandidates: $buckets bucket(s) over maxBucketSize=$maxBucketSize " +
            s"($members member rows) fell back to representative pairing — " +
            "recall within those buckets is reduced; raise maxBucketSize or " +
            "(for simhash) this means the key space is saturating")
    }
    val small = sized.filter(col("bsz") <= maxBucketSize)
      .select((col("id") +: bucketCols.map(col)): _*)
    val joinCond = bucketCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col("x.id") < col("y.id")
    val candSmall = small.as("x").join(small.as("y"), joinCond)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val candBig = sized.filter(col("bsz") > maxBucketSize && col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    candSmall.union(candBig).distinct()
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every node's label converges to the smallest
    * id in its component (the canonical "keep" document; singletons keep
    * themselves). Each round is one shuffle join + partial-aggregated min
    * — fully distributed, O(diameter) rounds, and near-dup graphs are
    * star/clique shaped so the diameter is tiny. The round cap bounds the
    * worst (chain-shaped) case; raising it is safe, each round is
    * idempotent. At extreme scale, alternating star contraction halves
    * rounds further — the shape here is the standard label-propagation CC.
    *
    * Small-graph fast path: near-dup EDGE sets are tiny relative to the
    * corpus (pairs survive LSH + verification), so when the edge count
    * fits a hard cap the component labels are solved by a driver-local
    * union-find over just the (id_a, id_b) longs — 16 bytes/edge, capped
    * at [[ccMaxDriverEdges]] (64 MB) — and broadcast-joined back onto the
    * ids. The iterative path remains the unbounded fallback; the collect
    * is size-gated the same way the IVF fit sample is.
    *
    * @param ids   (id) — every document, including singletons
    * @param edges (id_a, id_b) — undirected near-dup pairs
    * @return (id, cluster_id = min id reachable)
    */
  val ccMaxDriverEdges: Long = 4L * 1000 * 1000

  def connectedComponents(
      ids: DataFrame,
      edges: DataFrame,
      maxRounds: Int = 25,
      maxDriverEdges: Long = ccMaxDriverEdges
  ): DataFrame = {
    // the fast path needs long-valued ids (the label propagation below is
    // type-generic — string/UUID ids keep working through it)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralIds = Seq("id_a", "id_b").forall(n =>
      scala.util.Try(edges.schema(n).dataType).toOption.exists {
        case IntegerType | LongType | ShortType | ByteType => true
        case _ => false
      })
    // The edge pipeline (often an expensive verified-pair join) is
    // evaluated EXACTLY ONCE, at full parallelism, into a call-scoped
    // cache: the pre-r21 shape probed it through `limit(cap+1).collect()`,
    // whose CollectLimit executes the upstream join in serial partition
    // waves (1, then ×4, …) — measured at sf1 as three ~2.4 s waves on
    // ≤5 tasks for q_semantic_dedup. A persist + count runs the join as
    // one fully-parallel job; the path decision reads the count, the
    // driver collect (fast path) and the sym union (iterative path) both
    // reuse the cached rows, and the cache is released before returning.
    // Driver safety is unchanged: the collect only happens when the
    // counted edge total is at-or-below the cap (~32 B/edge, ≤128 MB).
    // null-endpoint edges connect nothing — drop them up front (integral
    // ids only; the type-generic path is untouched) so the fast-path gate
    // counts EXACTLY the rows the collect reads (ADVICE r21: the pre-r22
    // count ran pre-filter, so null rows straddling the cap pushed a
    // driver-solvable graph onto the iterative path)
    val e0 = edges.select(col("id_a"), col("id_b"))
    withCached(if (integralIds)
      e0.filter(col("id_a").isNotNull && col("id_b").isNotNull)
    else e0) { e =>
      val nEdges = e.count()
      if (integralIds && nEdges <= maxDriverEdges && maxDriverEdges + 1 <= Int.MaxValue) {
        val pairs = {
          import edges.sparkSession.implicits._
          e.select(col("id_a").cast("long"), col("id_b").cast("long"))
            .as[(Long, Long)]
            .collect()
        }
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x // path compression
          while (parent.getOrDefault(c, c) != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
          r
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) } // min id wins
        }
        val labels = new java.util.HashMap[Long, Long]()
        pairs.foreach { case (a, b) => labels.put(a, find(a)); labels.put(b, find(b)) }
        val spark = ids.sparkSession
        import scala.jdk.CollectionConverters._
        val labelDf = spark.createDataFrame(
          labels.entrySet().asScala.toSeq.map(e => org.apache.spark.sql.Row(e.getKey, e.getValue)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__lid", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("__lbl", org.apache.spark.sql.types.LongType))))
        val idType = ids.schema("id").dataType
        val keyed = ids.select(col("id"))
        keyed
          .join(broadcast(labelDf), keyed("id").cast("long") === col("__lid"), "left")
          .select(keyed("id"),
            coalesce(col("__lbl"), keyed("id").cast("long")).cast(idType).as("cid"))
      }
      // iterative path: build the symmetric edge view from the SAME cached
      // evaluation (the pre-r21 union re-ran the pair pipeline twice).
      // Each round's labels are a local checkpoint, materialized by that
      // round's label sum: the lineage stops growing round over round,
      // and the returned labels need neither edge cache.
      else withCached(e.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(e.select(col("id_b").as("src"), col("id_a").as("dst")))) { sym =>
        var labels = ids.select(col("id"), col("id").as("cid")).localCheckpoint(eager = false)
        // labels only ever DECREASE (least of self and neighbor min), so the
        // exact label sum strictly decreases iff any label changed — one
        // aggregate per round instead of a change-detection join (decimal
        // keeps the sum exact for any id range)
        def labelSum(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("cid").cast("decimal(38,0)"))).head.getDecimal(0)
        var prevSum = labelSum(labels)
        var round = 0
        var converged = false
        while (!converged && round < maxRounds) {
          // next label = min(own, every neighbor's): one union + one shuffled
          // min-agg per round (partial aggregation halves the shuffle), one
          // fewer shuffle than the join+groupBy+left-join formulation
          val viaNbr = sym.join(labels, sym("dst") === labels("id"))
            .select(col("src").as("id"), col("cid"))
          val next = labels.select(col("id"), col("cid")).union(viaNbr)
            .groupBy(col("id")).agg(min(col("cid")).as("cid"))
            .localCheckpoint(eager = false)
          val nextSum = labelSum(next)
          converged = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
          labels = next
          round += 1
        }
        labels
      }
    }
  }

  // ---- SimHash --------------------------------------------------------

  /** Engine-portable 60-bit token hash: the top 15 hex digits of md5.
    * Any SQL engine with md5 + hex parse computes the identical value, so
    * a simhash built on it is fully oracle-checkable end to end. Runs as
    * the codegen'd [[Md5Hash60Expr]] (digest bytes, no hex-string round
    * trip); bit-equality with the declarative
    * `conv(substring(md5(c),1,15),16,10)` form is spec-proven.
    */
  def md5Hash60(c: Column): Column = Md5Hash60Expr.of(c)

  /** SimHash per document as a single codegen'd PROJECTION
    * ([[SimHashExpr]]): no token explode, no `bits`-column aggregate, no
    * shuffle in the signature stage. Null-text docs are dropped, matching
    * the declarative explode form (explode of a null token array emits
    * nothing). `useMd5 = true` selects the engine-portable md5-60 token
    * hash (pair with bits = 60); the default is xxhash64 (fastest).
    */
  def simhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 64,
      useMd5: Boolean = false
  ): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), SimHashExpr.of(col(textCol), bits, useMd5).as("simhash"))

  /** Declarative reference implementation — explode + `bits`
    * partial-aggregated ±1 bit sums (spec baseline proving [[SimHashExpr]]
    * bit-equal).
    */
  private[functions] def simhashDeclarative(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 64,
      tokenHash: Column => Column = c => xxhash64(c)
  ): DataFrame = {
    val tok = docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j")
    }
    val agg = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val hashCol = (0 until bits).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), hashCol.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, candidates
    * bucketed by BLOCK-PAIR keys: the signature splits into 6 blocks
    * (~bits/6 wide) and the 6 bucket tables are the edges of two disjoint
    * triangles over them — (0,1),(1,2),(0,2) and (3,4),(4,5),(3,5). Any
    * pair within distance 3 dirties ≤3 blocks, so one triangle keeps ≥2
    * clean blocks and its clean edge is a shared exact pair key (a
    * 3-vertex cover cannot hit both triangles). Versus the classic 4×
    * 16-bit single-block scheme this widens each table's key space from
    * 2^16 to ~2^21 values, pushing the corpus size where buckets saturate
    * (and the skew guard starts trading recall) ~30× higher — the classic
    * keys demonstrably saturate on ~10M-doc corpora.
    */
  def simhashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucketSize: Int = 1024,
      bits: Int = 64,
      useMd5: Boolean = false
  ): DataFrame = {
    // the signature projection feeds THREE plan branches (block buckets +
    // both sides of the hamming verify join); cache the tiny (id,
    // simhash) result for the call instead of recomputing per branch
    withCached(simhash(docs, idCol, textCol, bits, useMd5)) { sh =>
      simhashPairsFromSignatures(sh, maxDist, maxBucketSize, bits).localCheckpoint()
    }
  }

  /** Pair generation from an (id, simhash) frame — the bucketing +
    * verify stage of [[simhashDedup]], factored so specs can feed
    * CONSTRUCTED signatures (planted overflow corpora) directly.
    */
  private[functions] def simhashPairsFromSignatures(
      sh: DataFrame,
      maxDist: Int,
      maxBucketSize: Int,
      bits: Int
  ): DataFrame = {
    // the two-triangle pigeonhole covers hamming <= 3: at distance 4 the
    // dirty bits can cover both triangles and a pair silently vanishes —
    // fail loudly instead
    require(maxDist <= 3,
      s"simhashDedup: block-pair bucketing covers maxDist <= 3, got $maxDist")
    require(bits >= 12 && bits <= 64, s"simhashDedup: bits must be in [12, 64], got $bits")
    val widths = Array.tabulate(6)(k => bits / 6 + (if (k < bits % 6) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(k: Int): Column =
      shiftright(col("simhash"), offsets(k)).bitwiseAND(lit((1L << widths(k)) - 1))
    val tables = Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5))
    val blocks = sh.select(col("id"), col("simhash"),
      posexplode(array(tables.map { case (i, j) =>
        shiftleft(block(i), 16).bitwiseOR(block(j))
      }: _*)).as(Seq("blk", "v")))
    val cand = lshCandidates(blocks, Seq("blk", "v"), maxBucketSize)
    val hA = sh.select(col("id").as("id_a"), col("simhash").as("h_a"))
    val hB = sh.select(col("id").as("id_b"), col("simhash").as("h_b"))
    cand.join(hA, "id_a").join(hB, "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Top-k TF-IDF keywords per document. Ranking is fully integer
    * (tf desc, document-frequency asc, token asc) so it is deterministic
    * and engine-reproducible; the smoothed tf-idf score
    * `tf * ln((N+1)/(df+1))` rides along rounded for display. Shapes:
    * one token explode, one partial-aggregated (doc, tok) count, a
    * token-keyed count WINDOW for document frequency (round 22 — the
    * former `tf.groupBy(tok)` + join re-evaluated the whole explode +
    * tf aggregate as a second subtree and spent two more exchanges; df =
    * rows per tok over the tf table is the same number by definition),
    * one broadcast-able doc-count, one per-doc top-k window — no driver
    * actions.
    */
  def topKeywords(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df(tok) = number of (doc_id, tok) rows per tok — tf is unique on
    // (doc_id, tok), so this window count ≡ the former groupBy("tok")
    // aggregate joined back, with one exchange instead of two and no
    // second evaluation of the token explode
    val wDf = Window.partitionBy("tok")
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("df"), asc("tok"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("score"), col("rank"))
  }

  // ---- language ID ----------------------------------------------------

  /** Tiny embedded stopword lists (n-gram heuristic class); deterministic
    * priority order for ties. Real pipelines plug in larger tables — the
    * operator shape (broadcast lists + argmax) is what matters.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
    "es" -> Seq("el", "la", "los", "es", "y", "de", "que", "un"),
    "fr" -> Seq("le", "la", "et", "est", "les", "des", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有")
  )

  /** Predicted language per row: argmax of stopword overlap with priority
    * tiebreak (list order), 'und' (undetermined) when all scores are 0.
    */
  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), other) =>
      when(s === best && best > 0, lit(lang)).otherwise(other)
    }
    pick
  }

  // ---- BPE-style tokenization ----------------------------------------

  /** GPT-2-style BPE pre-tokenizer pattern, lookahead-free so that both
    * Java regex (Spark) and RE2 (DuckDB et al.) produce the identical
    * split: contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace.
    */
  val BpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token count under the BPE-ish pre-tokenizer (the cheap proxy for
    * "how many LLM tokens is this document").
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  // ---- fingerprinting / quality --------------------------------------

  /** Deterministic 64-bit document fingerprint over whitespace-normalized
    * lowercase text (exact-dup detection modulo formatting).
    */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Quality features: lengths and punctuation/digit/space/stopword ratios. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast("double")
    Seq(
      "n_chars" -> length(text),
      "n_tokens" -> size(tokens(text)),
      "punct_ratio" -> round(length(regexp_replace(text, "[^.!?,;:]", "")) / len, 4),
      "digit_ratio" -> round(length(regexp_replace(text, "[^0-9]", "")) / len, 4),
      "space_ratio" -> round(length(regexp_replace(text, "[^ ]", "")) / len, 4),
      "stopword_ratio" -> round(
        size(array_intersect(tokens(text), array(stopwords.flatMap(_._2).distinct.map(lit): _*))
        ).cast("double") / size(tokens(text)), 4)
    )
  }

  // ---- repetition / boilerplate ---------------------------------------

  /** Gopher-style per-document repetition signals (Rae et al. 2021 §A1.1
    * quality heuristics, adapted to word n-grams): vocabulary diversity
    * (`distinct_word_ratio`), duplicate bi/trigram fractions (share of
    * n-gram windows whose n-gram occurs more than once in the document)
    * and top-1 word / bigram concentration. Highly repetitive documents —
    * boilerplate, keyword stuffing, generation loops — score low on
    * diversity and high on concentration; a training-data pipeline
    * filters on these before dedup.
    *
    * Shape: ONE codegen'd pass per document ([[RepetitionStatsExpr]]
    * counts tokens/bigrams/trigrams, their distincts and top-1
    * frequencies in a single tokenization) and a declarative ratio layer
    * above it — a pure projection, no shuffle, no explode, nothing
    * collects. The fused kernel replaces two explode + groupBy + join
    * paths (each a (doc, token) shuffle of every token occurrence).
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 4)).otherwise(lit(0.0))
    docs.select(id, RepetitionStatsExpr.of(col(textCol)).as("r"))
      .select(id,
        col("r.n_words").as("n_words"),
        ratio(col("r.distinct_words"), col("r.n_words")).as("distinct_word_ratio"),
        when(col("r.n_bigrams") > 0,
          round(lit(1.0) - col("r.distinct_bigrams").cast("double") / col("r.n_bigrams"), 4))
          .otherwise(lit(0.0)).as("dup_bigram_frac"),
        when(col("r.n_trigrams") > 0,
          round(lit(1.0) - col("r.distinct_trigrams").cast("double") / col("r.n_trigrams"), 4))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        ratio(col("r.top_word_c"), col("r.n_words")).as("top_word_frac"),
        ratio(col("r.top_bigram_c"), col("r.n_bigrams")).as("top_bigram_frac"))
  }

  /** Corpus-level boilerplate detection: the `topK` most repeated word
    * n-grams across the whole corpus with their occurrence count and
    * document frequency (C4-style "remove frequent boilerplate lines",
    * generalized to n-grams since the corpus has no line structure).
    * One shuffle keyed on the gram with partial aggregation — the
    * standard scalable heavy-hitters shape; ordering is fully
    * deterministic (count desc, doc-freq desc, gram asc).
    */
  def boilerplateNgrams(
      docs: DataFrame, idCol: String, textCol: String, n: Int, topK: Int): DataFrame =
    docs.select(col(idCol),
        explode(WordShinglesExpr.of(col(textCol), n, distinct = false)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col(idCol)).as("doc_freq"))
      .orderBy(desc("n_occurrences"), desc("doc_freq"), col("gram"))
      .limit(topK)

  // ---- PII redaction / decontamination / deterministic sampling -------

  /** Email / IPv4 / phone redaction as a pure codegen'd regexp_replace
    * chain — RE2-compatible patterns (no backreferences or lookaround),
    * so the identical expressions run in any RE2 engine for oracle
    * checks. Order matters: emails first (their local parts carry dots
    * and digits), then IPv4 (dotted digits would otherwise be eaten by
    * the phone pattern), then phone-like digit runs.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d .-]{7,}\\d"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Benchmark decontamination: which corpus documents share at least one
    * word n-gram with a benchmark (eval-set) document. The benchmark's
    * distinct shingle set is broadcast (eval sets are small by nature) and
    * the corpus side streams through one semi-join — no shuffle of corpus
    * text at any scale; the n-gram explode is the codegen'd
    * [[WordShinglesExpr]].
    *
    * @return (id, contaminated) for every corpus document
    */
  def contaminationFlags(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val benchShingles = bench
      .select(explode(WordShinglesExpr.of(col(textCol), n)).as("sh")).distinct()
    val hits = corpus
      .select(col(idCol), explode(WordShinglesExpr.of(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Deterministic engine-portable sampling key in [0, 100): the md5-60
    * hash of salt+key mod 100. Any engine with md5 reproduces the exact
    * same sample — the basis for auditable stratified downsampling
    * (filter on `sampleKey < rate(stratum)`).
    */
  def sampleKey(key: Column, salt: String): Column =
    pmod(md5Hash60(concat(lit(salt), key.cast("string"))), lit(100L))

  /** Paragraph-level exact dedup — the Gopher/FineWeb recipe step the
    * document-level passes (exact / MinHash / semantic) miss: drop every
    * paragraph whose exact trimmed text appears in at least `minDocs`
    * DISTINCT documents (all occurrences drop — boilerplate headers,
    * navigation blocks, license footers), then reassemble each document
    * from its surviving paragraphs in original order. Returns
    * (id, clean_text, n_kept, n_dropped); a document whose every
    * paragraph was DROPPED as a duplicate keeps its row with an empty
    * clean_text, so downstream quality filters see the removal rather
    * than losing the id. CONTRACT EDGE (ADVICE r20): a document with no
    * paragraphs to begin with — null text, or text whose every split
    * piece trims to empty — contributes no paragraph rows and therefore
    * has NO output row at all; callers that must retain such ids join
    * the result back to their id set (the declared-query oracle replays
    * these exact semantics).
    *
    * Scale shape: duplicate DETECTION shuffles 8-byte xxhash64
    * fingerprints only (distinct-doc counts per fp); full paragraph text
    * enters a shuffle exactly twice — the fp-collision re-verification
    * restricted to suspect fps via a semi-join (collisions must not
    * delete a unique paragraph), and the per-document reassembly groupBy
    * any implementation needs. The drop-key join is AQE-broadcastable
    * when the duplicated set is small; no pairwise surface anywhere, so
    * cost is one-pass linear in corpus size at any scale.
    */
  def dedupParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minDocs: Int = 2
  ): DataFrame = {
    require(minDocs >= 2, s"dedupParagraphs needs minDocs >= 2, got $minDocs")
    val paras = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para0")))
      .select(col("id"), col("pos"), trim(col("para0")).as("para"))
      .filter(length(col("para")) > 0)
      .withColumn("fp", xxhash64(col("para")))
    val dupFps = paras.groupBy("fp")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs).select("fp")
    val dropKeys = paras.join(dupFps, Seq("fp"), "left_semi")
      .groupBy("fp", "para")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("fp"), col("para"), lit(1).as("dup"))
    paras.join(dropKeys, Seq("fp", "para"), "left_outer")
      .groupBy("id").agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("dup").isNull, struct(col("pos"), col("para"))))),
            x => x.getField("para")),
          sep).as("clean_text"),
        count(when(col("dup").isNull, 1)).as("n_kept"),
        count(col("dup")).as("n_dropped"))
  }

  /** Document chunking for embedding/RAG pipelines: split each document
    * into overlapping token windows of `window` tokens every `stride`
    * tokens (stride < window ⇒ overlap). Purely declarative — one
    * codegen'd projection + posexplode, no shuffle, no UDF: cost is
    * O(tokens × window/stride) map-side work, embarrassingly parallel at
    * any corpus size. Emits (id, chunk_id, chunk_start, chunk_tokens,
    * chunk_text); every document yields at least one chunk (empty/short
    * docs produce their whole text as chunk 0), and the final window is
    * the last one that starts inside the document.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int
  ): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkDocuments needs 0 < stride <= window, got window=$window stride=$stride")
    val starts = sequence(lit(0),
      greatest(lit(0), (size(col("w")) - 1) - pmod(size(col("w")) - 1, lit(stride))),
      lit(stride))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .select(col("id"), col("w"), posexplode(starts).as(Seq("chunk_id", "chunk_start")))
      // keep only windows that begin inside the doc (sequence's upper
      // bound already guarantees it; the filter documents the invariant)
      .filter(col("chunk_start") < greatest(size(col("w")), lit(1)))
      .select(
        col("id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(window), size(col("w")) - col("chunk_start")).cast("long").as("chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("chunk_start") + 1, lit(window))).as("chunk_text"))
  }

  /** Sequence packing for pretraining: assign every document a position
    * in a stream of fixed-`budget`-token training sequences
    * (concatenate-and-chunk — the GPT-style packing where documents tile
    * the token stream and sequences are cut every `budget` tokens, so no
    * sequence has padding and a document may straddle a boundary).
    *
    * Scale shape: one portable hash routes each doc to one of `shards`
    * INDEPENDENT streams, so packing is a single window shuffle
    * partitioned by shard — no global sequential dependency, no driver
    * state; shards pack in parallel on a 1000-executor cluster and the
    * assignment is deterministic and engine-portable (md5-60 routing +
    * ordering, reproducible by any SQL engine for audits).
    *
    * Returns (id, shard, n_tokens, first_seq, last_seq, offset): the
    * doc occupies tokens [offset, ...) of `first_seq` through `last_seq`
    * within its shard (seq ids are per-shard; (shard, seq) is the global
    * sequence key). Docs with a null token count are dropped.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      tokensCol: Column,
      budget: Long,
      shards: Int,
      salt: String = "graft-pack-1"
  ): DataFrame = {
    require(budget > 0, s"packSequences budget must be positive, got $budget")
    require(shards > 0, s"packSequences shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val routed = docs
      .select(
        col(idCol).as("id"),
        tokensCol.cast("long").as("n_tokens"),
        pmod(md5Hash60(concat(lit(s"$salt-shard"), col(idCol).cast("string"))),
          lit(shards.toLong)).as("shard"),
        md5Hash60(concat(lit(salt), col(idCol).cast("string"))).as("hk"))
      .filter(col("n_tokens").isNotNull)
    val w = Window.partitionBy("shard").orderBy(col("hk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    routed
      .withColumn("prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("id"), col("shard"), col("n_tokens"),
        expr(s"prior DIV ${budget}L").as("first_seq"),
        expr(s"CASE WHEN n_tokens > 0 THEN (prior + n_tokens - 1) DIV ${budget}L " +
          s"ELSE prior DIV ${budget}L END").as("last_seq"),
        pmod(col("prior"), lit(budget)).as("offset"))
  }
}
