package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic public-BI-shaped ratio corpus — the reference's
  * regression benchmark measures per-scheme ratios on real BI columns
  * (`regression_benchmark.cpp:12-24`: Bimbo's Semana / Venta_uni_hoy /
  * Agencia_ID / Cliente_ID / product + the F* string/double features);
  * TPC-H's clean uniform columns never exercise the skewed shapes those
  * carry. Every column here is a seeded hash/arith expression over
  * `spark.range` — fully deterministic, shuffle-free, and generable at
  * any scale — with a DESIGNED winner:
  *
  *  - `week`         ordered batch column, 7 values in 37k-row runs → RLE
  *  - `agency_id`    547 depots, 113-row delivery runs → RLE over codes
  *  - `product_id`   1,800 SKUs scattered over a wide id space → DICT
  *    (bitpack pays the full 40-bit range; codes pay 11)
  *  - `client_id`    ~2M distinct in a 10M band → PFOR/BP (dict degenerates)
  *  - `returns_qty`  92% zero + a 500-value tail → FREQUENCY
  *    (dict pays a 500-entry table per chunk for 8% of rows)
  *  - `demand_qty`   small counts with 0.5% huge spikes → PFOR patches
  *  - `price`        messy 2-decimal values, ~50k distinct → PSEUDODECIMAL
  *    (dict pays 50k×8B per chunk; digits pack in ~17 bits)
  *  - `sales_amount` 93% 0.0 + a high-distinct non-terminating tail
  *    (n/7: binary-irrational decimals, so pseudodecimal patches nearly
  *    every exception and dict pays a fat per-chunk table) → FREQUENCY
  *    must win on merit (the VERDICT r16 must-win shape)
  *  - `sensor_temp`  5,000-row plateaus → RLE
  *  - `status`       40 dirty variants (case/whitespace) → string DICT
  *  - `promo_code`   98% null, else 60 codes → sparse null-map + DICT
  *  - `discount`     95% null, else 2-decimals → sparse null-map
  *
  * Round-19 additions (VERDICT r18 #7 — cover every scheme family's
  * must-win under BOTH selection modes):
  *
  *  - `event_ts`     sorted epoch-micros with jittered gaps (step 1000 >
  *    jitter 900, so strictly increasing) → DELTA+BP: deltas pack in
  *    ~11 bits where the chunk's absolute FOR range needs ~26
  *  - `shift`        4 shift names in 8,192-row runs → string DICT whose
  *    CODES stream cascades to RLE (the dict-RLE-codes shape; FSST must
  *    pay per-row where the code runs collapse)
  *  - `url`          templated near-unique URLs (hash path + session) →
  *    FSST: the shared template substrings symbol-compress, while dict
  *    degenerates (table ≈ the full text plus codes on ~unique values)
  */
object BiCorpus {
  def generate(spark: SparkSession, rows: Long = 1L << 19, seed: Long = 42L): DataFrame = {
    val dirty = Seq(
      "OK", " OK", "ok", "OK ", "Ok.", "FAILED", "failed", " FAILED ", "Failed",
      "PENDING", "pending", "PENDING ", "RETRY", "retry ", "CANCELLED", "cancelled",
      "SHIPPED", "shipped ", " Shipped", "RETURNED", "returned", "HOLD", "hold ",
      "NEW", "new", " NEW", "CLOSED", "closed", "VOID", "void ", "LOST", "lost",
      "DAMAGED", "damaged ", "PARTIAL", "partial", "UNKNOWN", "unknown", "N/A", "n/a")
    def h(salt: Int) = abs(hash(col("id"), lit(seed), lit(salt)))
    spark.range(rows)
      .withColumn("week", (lit(3) + (col("id") / 37000L) % 7).cast("int"))
      .withColumn("agency_id", ((col("id") / 113L) % 547L).cast("int"))
      .withColumn("product_id", (h(1) % 1800L).cast("long") * 524287L)
      .withColumn("client_id", h(2) % 2000000L + 10000000L)
      .withColumn("returns_qty",
        when(h(3) % 100L < 92L, 0).otherwise((h(4) % 500L).cast("int") + 1))
      .withColumn("demand_qty",
        when(h(5) % 1000L < 5L, (h(6) % 1000000L).cast("int") + 100000)
          .otherwise((h(7) % 64L).cast("int")))
      .withColumn("price", round((h(8) % 50000L).cast("double") * 0.01 + 1.0, 2))
      .withColumn("sales_amount",
        when(h(9) % 100L < 93L, 0.0)
          .otherwise((h(10) % 900000L).cast("double") / 7.0))
      .withColumn("sensor_temp", round((col("id") / 5000L).cast("double") * 0.5, 1))
      .withColumn("status",
        element_at(array(dirty.map(lit): _*), (h(11) % dirty.length).cast("int") + 1))
      .withColumn("promo_code",
        when(h(12) % 100L < 98L, lit(null).cast("string"))
          .otherwise(concat(lit("PROMO-"), (h(13) % 60L).cast("string"))))
      .withColumn("discount",
        when(h(14) % 100L < 95L, lit(null).cast("double"))
          .otherwise(round((h(15) % 40L).cast("double") * 0.25, 2)))
      .withColumn("event_ts", col("id") * 1000L + h(16) % 900L)
      // ALP must-win (VERDICT r19 #4): cents across 1e9..4e12 currency
      // units — exact two-decimal values whose digits (1e11..4e14)
      // overflow the pseudodecimal 31-bit digit cap on EVERY row (the
      // published abort shape), while dict self-prices out on ~unique
      // values and double-bp pays both full 32-bit planes (the wide
      // magnitude spread scatters the exponent bits, so no raw-bits
      // side channel packs below 64b and the DEFAULT pool agrees on
      // `raw` under both selection modes). ALP stores ≤49-bit digits
      // (opt-in pool; see RatioCorpus's alp rows)
      .withColumn("ledger_amount",
        ((abs(xxhash64(col("id"), lit(seed), lit(20))) % 400000000000000L) +
          100000000000L).cast("double") / 100.0)
      .withColumn("shift",
        element_at(array(Seq("DAY", "SWING", "NIGHT", "OFF").map(lit): _*),
          ((col("id") / 8192L) % 4L).cast("int") + 1))
      .withColumn("url",
        concat(lit("https://cdn.example.com/assets/"), lower(hex(h(17))),
          lit("/item?page="), (h(18) % 100L).cast("string"),
          lit("&session="), lower(hex(h(19)))))
      .drop("id")
  }

  /** Per-column telemetry of one written btr table: (root-scheme → chunk
    * wins) histogram + total compressed bytes, from the footer inspector.
    */
  def schemeWins(spark: SparkSession, dir: String): Map[String, (Map[String, Int], Long)] =
    graft.functions.BtrInspect.describe(spark, dir)
      .select("column", "scheme_tree", "compressed_bytes")
      .collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) =>
        val hist = rs.groupBy(_.getString(1).takeWhile(_ != '(')).map {
          case (s, xs) => s -> xs.length
        }
        c -> (hist, rs.map(_.getLong(2)).sum)
      }

  /** A scheme → chunks histogram as a JSON object, most chunks first. */
  def histJson(h: Map[String, Int]): String =
    h.toSeq.sortBy(-_._2).map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
}

/** Ratio/selection report over the BI corpus, mirroring the per-scheme
  * rows of the reference's `regression_benchmark.cpp:115-135`: writes the
  * corpus once under production (sampled) selection and once under
  * TRY_ALL, prints per column the winning-scheme chunk histogram and
  * compressed bytes, then for the designed FREQUENCY/RLE must-win columns
  * re-writes them under forced alternates (dict / pseudodecimal /
  * bitpack) and prints the byte penalty each alternate pays — the proof
  * the winner won on merit, not by pool omission.
  *
  *   runMain graft.tools.RatioCorpus [rows] [out.json]
  */
object RatioCorpus {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 1L << 19
    val lines = Kit.withSession("ratio-corpus")(report(_, rows))
    args.lift(1).foreach(Kit.save(_, lines))
  }

  private def report(spark: SparkSession, rows: Long): Seq[String] = {
    import BiCorpus.histJson
    val df = BiCorpus.generate(spark, rows).coalesce(4)
    val base = Kit.freshDir("/tmp/btr-ratio-corpus")
    val lines = new Kit.Lines

    // natural selection, production (sampled) and exhaustive (tryall);
    // the SAMPLE write also reports the escalation gates' aggregate cost
    // (VERDICT r19 #7): chunks escalated to exhaustive selection and
    // their share of total encode wall
    val natural = Seq("sample", "tryall").map { mode =>
      val dir = s"$base/$mode"
      if (mode == "sample") graft.format.EscalationTelemetry.reset()
      df.write.format("btr").mode("overwrite").option("btr.selection", mode).save(dir)
      if (mode == "sample") {
        val e = graft.format.EscalationTelemetry.snapshot()
        lines += f"""{"escalation":"sample","chunks":${e.chunks},"encode_sec":${e.sec}%.3f,""" +
          f""""rundom_chunks":${e.runDomChunks},"rundom_sec":${e.runDomSec}%.3f,"rundom_share":${e.runDomShare}%.4f,""" +
          f""""nearconst_chunks":${e.nearConstChunks},"nearconst_sec":${e.nearConstSec}%.3f,"nearconst_share":${e.nearConstShare}%.4f}"""
      }
      mode -> BiCorpus.schemeWins(spark, dir)
    }.toMap
    val cols = df.schema.fieldNames.toSeq
    for (c <- cols) {
      val (sh, sb) = natural("sample").getOrElse(c, (Map.empty[String, Int], 0L))
      val (th, tb) = natural("tryall").getOrElse(c, (Map.empty[String, Int], 0L))
      lines += s"""{"column":"$c","sample_bytes":$sb,"tryall_bytes":$tb,""" +
        s""""schemes_sample":${histJson(sh)},"schemes_tryall":${histJson(th)}}"""
    }

    // forced-alternate byte penalties on the designed must-win columns
    val forced: Seq[(String, String, String)] = Seq(
      ("returns_qty", "btr.forceScheme.int", "dict"),
      ("returns_qty", "btr.forceScheme.int", "forbp"),
      ("sales_amount", "btr.forceScheme.double", "dict"),
      ("sales_amount", "btr.forceScheme.double", "pseudodecimal"),
      ("week", "btr.forceScheme.int", "dict"),
      ("week", "btr.forceScheme.int", "forbp"),
      ("sensor_temp", "btr.forceScheme.double", "pseudodecimal"),
      ("sensor_temp", "btr.forceScheme.double", "dict"),
      // r19 family-coverage columns (VERDICT r18 #7)
      ("event_ts", "btr.forceScheme.int", "forbp"),
      ("shift", "btr.forceScheme.string", "fsst"),
      ("shift", "btr.forceScheme.string", "uncompressed"),
      ("url", "btr.forceScheme.string", "dict"),
      ("url", "btr.forceScheme.string", "uncompressed"))
    for ((c, opt, scheme) <- forced) {
      val dir = s"$base/forced-$c-$scheme"
      df.select(c).write.format("btr").mode("overwrite").option(opt, scheme).save(dir)
      val bytes = BiCorpus.schemeWins(spark, dir)(c)._2
      val nat = natural("sample")(c)._2
      lines += s"""{"column":"$c","forced":"$scheme","forced_bytes":$bytes,""" +
        s""""natural_bytes":$nat,"penalty":${f"${bytes.toDouble / nat}%.3f"}}"""
    }
    // ALP must-win rows (VERDICT r19 #4): ledger_amount under the FULL
    // registered pool (alp + doublebp opted in — natural selection, not
    // forced) vs the forced alternates it must beat on measured bytes
    val allPool = (graft.format.BtrConfig.intByName.keySet ++
      graft.format.BtrConfig.doubleByName.keySet ++
      graft.format.BtrConfig.stringByName.keySet).toSeq.sorted.mkString(",")
    val alpDir = s"$base/alp-natural"
    df.select("ledger_amount").write.format("btr").mode("overwrite")
      .option("btr.schemes", allPool).save(alpDir)
    val (alpHist, alpBytes) = BiCorpus.schemeWins(spark, alpDir)("ledger_amount")
    lines += s"""{"column":"ledger_amount","pool":"full","natural_bytes":$alpBytes,""" +
      s""""schemes":${histJson(alpHist)}}"""
    for (scheme <- Seq("pseudodecimal", "doublebp", "dict")) {
      val dir = s"$base/alp-vs-$scheme"
      df.select("ledger_amount").write.format("btr").mode("overwrite")
        .option("btr.forceScheme.double", scheme).save(dir)
      val bytes = BiCorpus.schemeWins(spark, dir)("ledger_amount")._2
      lines += s"""{"column":"ledger_amount","forced":"$scheme","forced_bytes":$bytes,""" +
        s""""alp_natural_bytes":$alpBytes,"penalty":${f"${bytes.toDouble / alpBytes}%.3f"}}"""
    }
    lines.toSeq
  }
}
