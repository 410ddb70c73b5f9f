package graft.tools

import graft.format._

/** Kernel-isolated codec microbenchmark — NO Spark: times each codec's
  * decode loop, and its forced encode, on 65,536-value chunks (the format's row-group size and
  * the granularity of the reference's regression benchmark,
  * `regression_benchmark.cpp:73-135`), so the JVM-vs-native gap can be
  * attributed to the KERNELS rather than plan/scan orchestration
  * (ColumnBandwidth measures the end-to-end counterpart).
  *
  * Each scheme gets a data shape it must win on (sorted → DeltaBp, runs →
  * RLE, low cardinality → Dict, skewed → Frequency, outliers → PFOR,
  * decimals → Pseudodecimal, URL-ish text → FSST), encoded with
  * `encodeForced`; decode reps run over the same encoded bytes into
  * preallocated output arrays where the codec supports it. Reported rate
  * is DECODED bytes / min-rep time (strings: payload + 4-byte offset
  * slot), matching ColumnBandwidth's denominator. The encode rate is the
  * min-rep time of the same `encodeForced` call per value, the write
  * side of the same rung.
  *
  *   runMain graft.tools.KernelBench [reps]
  *
  * Prints one table row per kernel and a final one-line JSON record
  * (`{"kernel_bench":{...}}`) for BASELINE.md.
  */
object KernelBench {
  private val N = 65536
  private val Depth = 2

  /** Fastest of `reps` runs of `once`, after three JIT-warming runs. */
  private def bench(reps: Int)(once: () => Unit): Double = {
    var w = 0
    while (w < 3) { once(); w += 1 } // JIT warm
    Kit.minSecs(reps)(once())
  }

  /** The box-health canary, callable without Spark from the bench main:
    * DRAM read bandwidth (GB/s) over a 64 MiB long[] — best sweep within
    * a fixed time window after a warm window. The loop is a trivial
    * while-sum with NO call sites, so the JIT compiles it identically in
    * ANY process state; earlier canary shapes measured JIT state as box
    * state (the single-chunk int/uncompressed decode read 3.7 GB/s at
    * C1, 8.5 in a cold-C2 process, and 16–18 inside a warmed Spark bench
    * JVM — same box, same code — because a ByteBuffer decode loop's
    * steady state depends on call-site profiles). A loaded box slows
    * this sweep and the round's queries by the same ambient factor,
    * which is the normalization `canary_norm_total` relies on.
    * Fresh-JVM ≡ warm-JVM band on the reference box in BASELINE.md.
    */
  def canaryGbps(reps: Int = 20): Double = {
    val n = 8 * 1024 * 1024 // 64 MiB — DRAM, not L3
    val src = new Array[Long](n)
    var i = 0
    var seed = 0x9e3779b97f4a7c15L
    while (i < n) { seed = seed * 6364136223846793005L + 1442695040888963407L; src(i) = seed; i += 1 }
    var sink = 0L
    def sweep(): Long = {
      var s = 0L
      var j = 0
      while (j < n) { s += src(j); j += 1 }
      s
    }
    val sweepBytes = n.toLong * 8
    def window(minNanos: Long): Double = { // best sweep within a time budget
      var best = Double.MaxValue
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < minNanos) {
        val s0 = System.nanoTime()
        sink ^= sweep()
        val sec = (System.nanoTime() - s0) / 1e9
        if (sec < best) best = sec
      }
      sweepBytes / 1e9 / best
    }
    window(300L * 1000 * 1000) // warm window
    val gbps = window(700L * 1000 * 1000) // measured window
    if (sink == 42L) println("") // keep the sum observable
    gbps
  }

  /** Aggregate multi-threaded DRAM bandwidth (GB/s): `threads` workers
    * each sweep a PRIVATE 32 MiB long[] for a fixed wall window;
    * aggregate = total bytes swept / window. This is the companion the
    * single-thread canary needs on shared hardware: the round-19 sf1 A/B
    * measured a box where single-thread DRAM read a healthy 20+ GB/s
    * while the same code ran every 32-thread query 16% slower than the
    * previous day's artifact (r18 code re-run on the same fixtures:
    * 1.162× its own committed numbers) — neighbor tenants saturate the
    * memory controllers in a way one thread never sees. A drop in THIS
    * number with a steady single-thread canary is that signature.
    */
  def canaryMtGbps(threads: Int = 16): Double = {
    val n = 4 * 1024 * 1024 // 32 MiB per thread
    val windowNanos = 700L * 1000 * 1000
    val sweepCounts = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        val src = new Array[Long](n)
        var i = 0
        var seed = 0x9e3779b97f4a7c15L + t
        while (i < n) { seed = seed * 6364136223846793005L + 1442695040888963407L; src(i) = seed; i += 1 }
        var sink = 0L
        def sweep(): Long = { var s = 0L; var j = 0; while (j < n) { s += src(j); j += 1 }; s }
        sink ^= sweep() // warm (allocation already touched the pages)
        start.await()
        val t0 = System.nanoTime()
        var sweeps = 0L
        while (System.nanoTime() - t0 < windowNanos) { sink ^= sweep(); sweeps += 1 }
        sweepCounts.set(t, sweeps)
        if (sink == 42L) println("")
      })
      th.setDaemon(true); th.start(); th
    }
    Thread.sleep(50) // let workers reach the latch
    val t0 = System.nanoTime()
    start.countDown()
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    var bytes = 0L
    (0 until threads).foreach(t => bytes += sweepCounts.get(t) * n.toLong * 8)
    bytes / 1e9 / wall
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("canary")) { // fresh-JVM canary reading only
      val n = if (args.length > 1) args(1).toInt else 1
      (1 to n).foreach(_ => println(
        f"""{"canary_gbps":${canaryGbps()}%.2f,"canary_mt_gbps":${canaryMtGbps()}%.2f}"""))
      return
    }
    val reps = if (args.nonEmpty) args(0).toInt else 50
    val rnd = new scala.util.Random(42L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Double, Double)]

    /** Min-rep ns per value of `encodeOnce` into a reused writer, and the
      * bytes of its last run.
      */
    def encodeBench(capacity: Int)(encodeOnce: BufWriter => Unit): (Double, Array[Byte]) = {
      val out = new BufWriter(capacity)
      val sec = bench(reps) { () => out.truncate(0); encodeOnce(out) }
      (sec * 1e9 / N, out.result())
    }

    def intCase(name: String, scheme: Int, values: Array[Long]): Unit = {
      val (encNs, enc) = encodeBench(1 << 16)(IntCodec.encodeForced(scheme, _, values, N, 8, Depth))
      val dst = new Array[Long](N)
      val sec = bench(reps) { () =>
        IntCodec.decodeInto(new BufReader(enc), N, dst)
      }
      require(java.util.Arrays.equals(dst, java.util.Arrays.copyOf(values, N)),
        s"$name: decode mismatch") // correctness inside the bench, not just speed
      rows += ((name, enc.length.toLong, N.toLong * 8, sec, encNs))
    }

    def doubleCase(name: String, scheme: Int, values: Array[Double]): Unit = {
      val (encNs, enc) = encodeBench(1 << 16)(DoubleCodec.encodeForced(scheme, _, values, N, Depth))
      val dst = new Array[Double](N)
      val sec = bench(reps) { () =>
        DoubleCodec.decodeInto(new BufReader(enc), N, dst)
      }
      require(java.util.Arrays.equals(dst, java.util.Arrays.copyOf(values, N)),
        s"$name: decode mismatch")
      rows += ((name, enc.length.toLong, N.toLong * 8, sec, encNs))
    }

    def stringCase(name: String, scheme: Int, values: Array[Array[Byte]]): Unit = {
      val (encNs, enc) = encodeBench(1 << 20)(StringCodec.encodeForced(scheme, _, values, N, Depth))
      val payload = values.iterator.take(N).map(_.length.toLong).sum
      val decodedBytes = payload + N.toLong * 4
      var last: (Array[Int], Array[Byte]) = null
      val sec = bench(reps) { () =>
        last = StringCodec.decode(new BufReader(enc), N)
      }
      require(last._1.map(_.toLong).sum == payload && last._2.length == payload.toInt,
        s"$name: decoded payload length mismatch")
      rows += ((name, enc.length.toLong, decodedBytes, sec, encNs))
    }

    // ---- integer kernels ------------------------------------------------
    intCase("int/uncompressed", IntCodec.Uncompressed,
      Array.fill(N)(rnd.nextLong()))
    intCase("int/bitpack(ForBp)", IntCodec.ForBp,
      Array.fill(N)(1000000L + rnd.nextInt(1 << 20)))
    // aligned widths ride the straddle-free word-at-a-time unpack
    intCase("int/bitpack_w16", IntCodec.ForBp,
      Array.fill(N)(rnd.nextInt(1 << 16).toLong))
    intCase("int/bitpack_w8", IntCodec.ForBp,
      Array.fill(N)(rnd.nextInt(1 << 8).toLong))
    intCase("int/rle", IntCodec.Rle, {
      val a = new Array[Long](N); var i = 0; var v = 0L
      while (i < N) { if (i % 50 == 0) v = rnd.nextInt(1000); a(i) = v; i += 1 }; a
    })
    intCase("int/dict", IntCodec.Dict,
      Array.fill(N)(rnd.nextInt(1000).toLong * 1000003L))
    intCase("int/pfor", IntCodec.Pfor, {
      // 1% outliers: the patched path must run, not the plain bitpack
      Array.fill(N)(if (rnd.nextInt(100) == 0) rnd.nextLong() >>> 2
      else rnd.nextInt(1 << 10).toLong)
    })
    intCase("int/delta(DeltaBp)", IntCodec.DeltaBp, {
      val a = Array.fill(N)(rnd.nextInt(1 << 16).toLong); java.util.Arrays.sort(a)
      a
    })
    intCase("int/frequency", IntCodec.Frequency,
      Array.fill(N)(if (rnd.nextInt(100) < 95) 42L else rnd.nextInt(1 << 20).toLong))

    // ---- double kernels -------------------------------------------------
    doubleCase("double/uncompressed", DoubleCodec.Uncompressed,
      Array.fill(N)(rnd.nextDouble() * 1e9))
    doubleCase("double/pseudodecimal", DoubleCodec.Pseudodecimal,
      Array.fill(N)(math.round(rnd.nextDouble() * 100000) / 100.0))
    doubleCase("double/dict", DoubleCodec.Dict,
      Array.fill(N)(rnd.nextInt(500) * 0.25))
    doubleCase("double/rle", DoubleCodec.Rle, {
      val a = new Array[Double](N); var i = 0; var v = 0.0
      while (i < N) { if (i % 50 == 0) v = rnd.nextInt(1000) * 1.5; a(i) = v; i += 1 }; a
    })
    doubleCase("double/frequency", DoubleCodec.Frequency,
      Array.fill(N)(if (rnd.nextInt(100) < 95) 3.14 else rnd.nextDouble() * 1e6))
    doubleCase("double/doublebp", DoubleCodec.DoubleBp,
      Array.fill(N)((1000 + rnd.nextInt(1 << 12)).toDouble))
    // division decode (see DoubleCodec.alpDecode) — the kernel row keeps
    // the div-vs-mul throughput trade visible next to pseudodecimal's
    doubleCase("double/alp", DoubleCodec.Alp,
      Array.fill(N)((10000000000000L + (rnd.nextLong() % 9000000000000L).abs) / 100.0))

    // ---- string kernels -------------------------------------------------
    def bytes(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    stringCase("string/uncompressed", StringCodec.Uncompressed,
      Array.fill(N)(bytes(s"row-${rnd.nextInt(1 << 20)}-${rnd.nextLong()}")))
    stringCase("string/dict", StringCodec.Dict, {
      val dict = Array.tabulate(256)(i => bytes(s"STATUS_CODE_$i"))
      Array.fill(N)(dict(rnd.nextInt(256)))
    })
    stringCase("string/fsst", StringCodec.Fsst,
      Array.fill(N)(bytes(
        s"https://www.example-${rnd.nextInt(50)}.com/products/category/item-${rnd.nextInt(100000)}?ref=search&page=${rnd.nextInt(40)}")))

    println(f"${"kernel"}%-22s ${"comp_B"}%10s ${"decomp_B"}%10s ${"min_sec"}%10s ${"GB/s"}%8s ${"enc_ns/v"}%9s")
    rows.foreach { case (n, c, d, s, e) =>
      println(f"$n%-22s $c%10d $d%10d $s%10.6f ${d / 1e9 / s}%8.2f $e%9.1f")
    }
    val json = rows.map { case (n, c, d, s, e) =>
      val g = d / 1e9 / s
      f""""$n":{"comp_bytes":$c,"decomp_bytes":$d,"min_sec":$s%.6f,"gbps":$g%.2f,"enc_ns_per_value":$e%.1f}"""
    }.mkString("{", ",", "}")
    println(s"""{"kernel_bench":$json,"chunk":$N,"reps":$reps}""")
  }
}
