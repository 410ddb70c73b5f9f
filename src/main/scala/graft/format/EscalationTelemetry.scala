package graft.format

import java.util.concurrent.atomic.LongAdder

/** Write-side telemetry for the SAMPLE-mode escalation gates (VERDICT r19
  * #7): the run-dominated and near-constant gates escalate a chunk's
  * scheme race to exhaustive selection, a per-chunk cost bounded by what
  * TRY_ALL mode pays everywhere — but their TRIGGER RATE is corpus-shaped
  * (a 100× corpus with many mostly-null columns could fire the
  * near-constant gate on most chunks), so the aggregate cost needs to be
  * measurable, not asserted. Counts root-chunk encodes and the wall nanos
  * spent in them, split by trigger, so any write can report the
  * escalations' share of total encode time.
  *
  * Its one call site is [[SchemePicker.encode]], which every int,
  * double and string chunk encode goes through. Attribution is at the
  * OUTERMOST entry per thread (cascade recursion re-enters the picker;
  * nested calls must not double-count), via a ThreadLocal depth guard.
  * LongAdders keep the 32-writer-thread updates contention-free; the two
  * nanoTime calls per 65,536-value chunk are noise. Per-JVM scope: under
  * local[32] this is the whole write; on
  * a multi-executor cluster each executor sees its own share, whose RATIO
  * is still representative of the fleet. Readers: Bench (esc_* artifact
  * fields), RatioCorpus (per-corpus report line), BtrConfigSpec (share
  * pin).
  */
object EscalationTelemetry {
  val chunks = new LongAdder
  val nanos = new LongAdder
  val runDomChunks = new LongAdder
  val runDomNanos = new LongAdder
  val nearConstChunks = new LongAdder
  val nearConstNanos = new LongAdder

  final case class Snap(
      chunks: Long, sec: Double,
      runDomChunks: Long, runDomSec: Double,
      nearConstChunks: Long, nearConstSec: Double) {
    def runDomShare: Double = if (sec <= 0) 0.0 else runDomSec / sec
    def nearConstShare: Double = if (sec <= 0) 0.0 else nearConstSec / sec
    override def toString: String =
      f"chunks=$chunks enc=$sec%.3fs runDom=$runDomChunks/$runDomSec%.3fs " +
        f"(${runDomShare * 100}%.1f%%) nearConst=$nearConstChunks/$nearConstSec%.3fs " +
        f"(${nearConstShare * 100}%.1f%%)"
  }

  def snapshot(): Snap = Snap(
    chunks.sum, nanos.sum / 1e9,
    runDomChunks.sum, runDomNanos.sum / 1e9,
    nearConstChunks.sum, nearConstNanos.sum / 1e9)

  def reset(): Unit = {
    chunks.reset(); nanos.reset()
    runDomChunks.reset(); runDomNanos.reset()
    nearConstChunks.reset(); nearConstNanos.reset()
  }

  private val depth = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }

  /** Run `body`, attributing its wall time once at the outermost encode
    * entry on this thread. kind: 0 = un-escalated, 1 = run-dominated
    * escalation, 2 = near-constant escalation.
    */
  def timed[A](kind: Int)(body: => A): A = {
    val d = depth.get
    if (d > 0) { depth.set(d + 1); try body finally depth.set(d) }
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body finally {
        val dt = System.nanoTime() - t0
        depth.set(0)
        chunks.increment(); nanos.add(dt)
        if (kind == 1) { runDomChunks.increment(); runDomNanos.add(dt) }
        else if (kind == 2) { nearConstChunks.increment(); nearConstNanos.add(dt) }
      }
    }
  }
}
