package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed client operation. `cls` is the end-to-end class the op is
  * reported under: "read", "write", "maint" or "control" (the raw-parquet
  * control, never counted as a graft op). `kind` is the op shape inside
  * its class; percentiles are taken per kind. Times are wall-clock
  * milliseconds with sub-millisecond precision. */
final case class Op(id: Long, cls: String, kind: String,
    startMs: Double, endMs: Double, ok: Boolean, thread: Int) {
  def ms: Double = endMs - startMs
}

/** nanoTime-derived wall clock in ms: precise and monotonic within a
  * run, anchored to currentTimeMillis so it lines up with the
  * millisecond timestamps Spark and the engine's reports carry. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Thread-safe log of every op in the timed phase. */
final class Recorder {
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nowMs: Double = Clock.nowMs

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as one op. An exception marks the op failed and is
    * returned to the caller to decide whether it is a tolerated failure
    * (counted) or a defect (rethrown). */
  def time[T](cls: String, kind: String, id: Long, thread: Int = 0)(
      body: => T): Either[Throwable, T] = {
    val s = nowMs
    val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    ops.add(Op(id, cls, kind, s, nowMs, r.isRight, thread))
    r
  }

  def all: Seq[Op] = ops.iterator.asScala.toSeq.sortBy(_.startMs)
}

object Stats {
  /** Linear-interpolated quantile (Python statistics "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Percentile `q` taken per op kind, then the geometric mean over kinds.
    * A workload mixes op shapes whose latencies differ by several times;
    * a percentile of the pooled samples would sit on the boundary between
    * two shapes and jump with the mix. Per-kind percentiles combined by a
    * geometric mean weigh every shape's relative change equally. */
  def perKind(ops: Seq[Op], q: Double): Double =
    geomean(ops.groupBy(_.kind).values.map(g => quantile(g.map(_.ms), q)).toSeq)
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** A metric as reported: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload's timed phase hands back to Main. Non-empty `errors`
  * fails the run. `extra` holds end-to-end figures that only some
  * workloads have (write latency, maintenance, ratios); `layers` holds
  * per-layer metrics the workload measures itself; `info` is provenance. */
final case class Outcome(ops: Seq[Op], wallMs: Double, errors: Seq[String],
    extra: Map[String, Metric], layers: Map[String, Metric],
    info: Map[String, Any])
