package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One failed op: what was attempted and the exception or failed check. */
final case class Failure(op: String, error: String)

/** Loud failure accounting. Every op is counted as attempted; an op that
  * throws or fails its output check is counted as failed, listed with its
  * exception, and its time never enters a latency or a total. Thread-safe:
  * the browse clients record into one recorder. */
final class Recorder {
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val fails = mutable.ArrayBuffer.empty[Failure]
  private var nAttempted = 0L

  /** Run `f` as one op of `kind`, time it, then run `check` on its result
    * outside the timed span. Returns the result and its time in ms when both
    * succeeded; the caller decides whether the time enters a latency. */
  def attempt[A](kind: String)(f: => A)(check: A => Unit): Option[(A, Double)] = {
    synchronized { nAttempted += 1 }
    val t0 = System.nanoTime()
    val outcome = try Right(f) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    outcome.flatMap(a => try { check(a); Right(a) } catch { case NonFatal(e) => Left(e) }) match {
      case Right(a) => Some((a, ms))
      case Left(e) =>
        fail(kind, e)
        None
    }
  }

  def record(kind: String, ms: Double): Unit =
    synchronized { lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms }

  /** [[attempt]], recording the time of a successful op under `kind`. */
  def op[A](kind: String)(f: => A)(check: A => Unit): Option[A] =
    attempt(kind)(f)(check).map { case (a, ms) => record(kind, ms); a }

  /** A standalone output check, counted like an op but never timed. */
  def check(label: String)(f: => Unit): Boolean = {
    synchronized { nAttempted += 1 }
    try { f; true } catch { case NonFatal(e) => fail(label, e); false }
  }

  private def fail(kind: String, e: Throwable): Unit = synchronized {
    val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
    fails += Failure(kind, msg.take(2000))
  }

  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(fails.size.toLong)
  def failures: Seq[Failure] = synchronized(fails.toSeq)
  def latencies(kind: String): Seq[Double] = synchronized(lat.get(kind).map(_.toSeq).getOrElse(Nil))
  def kinds: Seq[String] = synchronized(lat.keys.toSeq)
}

object Recorder {
  /** Self-test run at the start of every run: an op that throws and an op
    * whose check fails must both be counted as failed and stay out of the
    * latencies, while a good op is kept. Throws if accounting is broken. */
  def selfTest(): Unit = {
    val r = new Recorder
    r.op("good")(1)(_ => ())
    r.op("throws")((throw new IllegalStateException("injected")): Int)(_ => ())
    r.op("bad_output")(2)(v => require(v == 3, "injected check failure"))
    r.check("bad_check")(require(false, "injected"))
    require(r.attempted == 4 && r.failed == 3 &&
      r.latencies("good").size == 1 && r.latencies("throws").isEmpty &&
      r.latencies("bad_output").isEmpty,
      s"failure accounting self-test broken: attempted=${r.attempted} failed=${r.failed}")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p90/p99/p999 with at least ten samples beyond it,
    * as (label, value); p50 when there are fewer than twenty samples. */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    Seq("p999" -> 0.999, "p99" -> 0.99, "p90" -> 0.9)
      .find { case (_, q) => n * (1 - q) >= 10 }
      .map { case (l, q) => l -> quantile(xs, q) }
      .getOrElse("p50" -> median(xs))
  }
}
