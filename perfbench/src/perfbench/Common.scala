package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result and span lines. Numbers keep all
  * their digits; a non-finite double renders as null. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples). With ten samples or fewer no such
    * percentile exists, and the maximum is reported as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.lastOption.getOrElse(Double.NaN), 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** What one operation reports: items it processed (documents, queries,
  * rows), the seconds its engine calls took (the benchmark's own output
  * check excluded) and whether that check passed. */
final case class OpResult(items: Long, seconds: Double, ok: Boolean)

object OpResult {
  /** Run `body`, returning its value and its duration in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** Shared run context: session, seed, slots, a private work directory and
  * the tracer (a no-op in untraced runs). */
final class Ctx(val spark: SparkSession, val seed: Long, val slots: Int,
    val workDir: String, var tracer: Tracer) {
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
  def count(key: String, v: Double): Unit = tracer.count(key, v)
  /** Deterministic 64-bit value derived from the run seed and a salt. */
  def rand(salt: Long): Long = graft.geo.Rng.splitmix64(seed * 0x9E3779B97F4A7C15L + salt)
}

/**
 * A benchmark workload. `prepare` builds one copy of the seeded inputs
 * (set-up, repeated to take a median); `expect` computes the expected
 * outputs once, over the last copy; `op` is one timed operation that checks
 * its own output; `layers` runs the traced-only extras (prefix pipelines,
 * kernel loops) and returns per-layer metrics derived from the spans.
 */
trait Workload {
  def prepare(dir: String): Unit
  def expect(): Unit
  /** An untimed operation after set-up, so JIT and caches are warm. */
  def warmup(): Unit = op(0)
  /** How throughput follows the host speed probe: the slope of
    * log(throughput) on log(probe speed) across host windows. The figures
    * are scaled by (reference / probe speed) to this power; 0 leaves them
    * as measured. */
  def probeElasticity: Double = 0.0
  def op(i: Int): OpResult
  /** Ops in the fixed pass a traced run makes three times: untraced,
    * traced, untraced. */
  def tracePass: Int
  def layers(loopSpans: Seq[Span]): Map[String, Double]
  /** What one item is, for the throughput metric's per-workload name. */
  def itemMetric: (String, String)
}

object Dirs {
  /** Delete `root` and everything under it, if it exists. */
  def delete(root: Path): Unit =
    if (Files.exists(root)) Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** Runs a workload that is not run on its own inside another workload's
  * traced run, to measure its layers: set-up, one warm-up op, then its
  * fixed pass of checked ops under the tracer. */
object Probe {
  def layers(ctx: Ctx, w: Workload, dir: String, name: String): Map[String, Double] = {
    w.prepare(dir)
    w.expect()
    w.warmup()
    val before = ctx.tracer.spans.size
    val ok = (0 until w.tracePass).map(w.op).forall(_.ok)
    require(ok, s"$name probe: output check failed")
    w.layers(ctx.tracer.spans.drop(before).filter(_.parent < 0))
  }
}
