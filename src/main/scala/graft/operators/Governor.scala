package graft.operators

import java.nio.file.{Files, Path, Paths}

/** Single-instance adaptive governor — the control-loop half of the
  * reference (adaptive/governor.go), faithful to its constants and
  * behaviors: fast/slow EMAs (α=0.3/0.05), threshold interval rules
  * with exponential backoff, ±jitter on the reported interval, reset,
  * and JSON state persistence with a one-hour staleness cutoff.
  *
  * This is deliberately driver-side: one governor instance paces the
  * polling of ONE monitored database. The fleet-wide form (EMAs for
  * millions of instances) is the distributed qan_ewma operator and
  * streaming.QanStream.governorStream; this class is the cadence
  * controller a collector embeds. The policy numbers all three share
  * live on the companion object.
  */
class Governor(
    baseIntervalSec: Double = Governor.BaseIntervalSec,
    maxIntervalSec: Double = Governor.MaxIntervalSec,
    minIntervalSec: Double = 0.5,
    jitterPercent: Double = 0.1,
    stateDir: Option[String] = None) {

  import Governor._

  private var fastEma: Option[Double] = None
  private var slowEma: Option[Double] = None
  private var currentInterval: Double = math.max(baseIntervalSec, minIntervalSec)
  private var jitterSeed: Long = 0x9E3779B97F4A7C15L

  restoreState()

  /** EMA.Update (governor.go:55): first value initializes directly. */
  private def update(prev: Option[Double], alpha: Double, x: Double): Option[Double] =
    Some(prev.fold(x)(emaStep(_, alpha, x)))

  /** ProcessLoadMetrics (governor.go:161): clamp, update EMAs, adjust. */
  def processLoad(load: Double): Unit = {
    val clamped = math.min(1.0, math.max(0.0, load))
    fastEma = update(fastEma, FastAlpha, clamped)
    slowEma = update(slowEma, SlowAlpha, clamped)
    adjustInterval()
  }

  /** adjustInterval (governor.go:192): critical → max; high →
    * base·2^(load/0.7−1) capped; else base. Only applied when the
    * change exceeds 10% of the current interval.
    */
  private def adjustInterval(): Unit = {
    val fast = fastEma.getOrElse(0.0)
    val next =
      if (fast > CriticalLoad) maxIntervalSec
      else if (fast > HighLoad)
        math.min(baseIntervalSec * math.pow(2, fast / HighLoad - 1), maxIntervalSec)
      else baseIntervalSec
    if (math.abs(next - currentInterval) / currentInterval > 0.1)
      currentInterval = next
  }

  def rawIntervalSec: Double = currentInterval
  def fastValue: Double = fastEma.getOrElse(0.0)
  def slowValue: Double = slowEma.getOrElse(0.0)

  /** GetCurrentInterval (governor.go:243): ± jitterPercent/2 around
    * the raw interval, floored at the minimum. Jitter is a
    * deterministic xorshift sequence rather than a global RNG, so a
    * replayed run paces identically.
    */
  def nextIntervalSec(): Double = {
    jitterSeed ^= jitterSeed << 13; jitterSeed ^= jitterSeed >>> 7; jitterSeed ^= jitterSeed << 17
    val unit = (jitterSeed % 1000L).toDouble / 1000.0 // [-0.999, 0.999]
    val jitter = currentInterval * jitterPercent * (unit / 2.0)
    math.max(currentInterval + jitter, minIntervalSec)
  }

  /** Reset (governor.go:273). */
  def reset(): Unit = {
    fastEma = None
    slowEma = None
    currentInterval = math.max(baseIntervalSec, minIntervalSec)
    statePath.foreach(p => Files.deleteIfExists(p))
  }

  private def statePath: Option[Path] = stateDir.map(d => Paths.get(d, StateFileName))

  /** saveState (governor.go:292): atomic temp-file-then-rename JSON. */
  def saveState(nowMs: Long = System.currentTimeMillis()): Unit = statePath.foreach { p =>
    Files.createDirectories(p.getParent)
    val json =
      s"""{"fast_ema_value":${fastEma.getOrElse(0.0)},"slow_ema_value":${slowEma.getOrElse(0.0)},""" +
        s""""interval_sec":$currentInterval,"timestamp_ms":$nowMs}"""
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** restoreState (governor.go:339): ignore missing/stale (>1h) state. */
  private def restoreState(nowMs: Long = System.currentTimeMillis()): Unit = statePath.foreach { p =>
    if (Files.exists(p)) {
      val s = Files.readString(p)
      def num(key: String): Option[Double] =
        s""""$key":(-?[0-9.eE+]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble)
      val age = num("timestamp_ms").map(t => nowMs - t.toLong)
      if (age.exists(_ <= MaxStateAgeMs)) {
        fastEma = num("fast_ema_value")
        slowEma = num("slow_ema_value")
        num("interval_sec").foreach(currentInterval = _)
      }
    }
  }
}

/** The governor policy (adaptive/governor.go, mysql_collector.go):
  * the one copy of its numbers for the driver-side [[Governor]], the
  * batch operators in [[QanOps]], the qan_* queries and their oracle
  * SQL, and the streaming form.
  */
object Governor {
  /** EMA smoothing factors (governor.go:55). */
  val FastAlpha = 0.3
  val SlowAlpha = 0.05
  /** adjustInterval's fast-EMA thresholds (governor.go:192). */
  val HighLoad = 0.7
  val CriticalLoad = 0.9
  /** adjustInterval's base and maximum intervals, in seconds. */
  val BaseIntervalSec = 1.0
  val MaxIntervalSec = 60.0
  /** CalculateLoad's weights (mysql_collector.go:88): running threads
    * over connected, slow queries over questions. */
  val RunningWeight = 0.7
  val SlowWeight = 0.3
  val StateFileName = "governor_state.json"
  val MaxStateAgeMs: Long = 60L * 60 * 1000

  /** One EMA.Update step (governor.go:55). */
  def emaStep(prev: Double, alpha: Double, x: Double): Double = prev + alpha * (x - prev)

  /** CalculateLoad (mysql_collector.go:88) over the two ratios, each
    * clamped at 1. */
  def load(runningRatio: Double, slowRatio: Double): Double =
    math.min(1.0, runningRatio) * RunningWeight + math.min(1.0, slowRatio) * SlowWeight
}
