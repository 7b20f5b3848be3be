package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/**
 * Benchmark entry point, started by `perfbench/run.py`:
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 *     --slots K --spans FILE
 *
 * Untraced (`--trace 0`): set-up, then a closed loop of timed operations for
 * S seconds, each checking its output; prints the end-to-end metrics.
 * Traced (`--trace 1`): a fixed pass of operations untraced, the same pass
 * traced and once more untraced, then each workload's extra layer
 * measurements and the geo kernel loops; prints the per-layer metrics and
 * writes the spans to FILE as JSON lines.
 */
object Main {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val slots = opts("slots").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val runId = f"$workload-s$seed-${System.currentTimeMillis()}%x"
    val ctx = new Ctx(spark, seed, slots, work, new Tracer(spark, enabled = false, runId))
    val w: Workload = workload match {
      case "geo_join" => new GeoJoin(ctx, nDocs = 40000)
      case "gar_dump" => new GarDump(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // input set-up is repeated and its median reported, so the first (cold
    // JIT) repetition does not decide the figure; the last copy is used
    val prepS = (0 until Prepares).map { k =>
      val t0 = System.nanoTime()
      w.prepare(s"$work/prep$k")
      (System.nanoTime() - t0) / 1e9
    }
    val (_, expectS) = OpResult.timed(w.expect())
    val (_, warmS) = OpResult.timed((1 to WarmupOps).foreach(_ => w.warmup()))
    val setupS = sessionS + Stats.median(prepS) + expectS + warmS

    Host.speed(slots) // compile the probe before its figures count
    val speeds = mutable.ArrayBuffer(Host.speed(slots))
    var attempted = 0L
    var failed = 0L
    /** Run ops 0, 1, ... while `more(i, elapsed seconds)`, probing host
      * speed after each op if `probe`; returns the (seconds, items) of each
      * op that passed its check, and the wall time. */
    def loop(more: (Int, Double) => Boolean, probe: Boolean): (Seq[(Double, Long)], Double) = {
      val out = mutable.ArrayBuffer.empty[(Double, Long)]
      var consecutiveErrors = 0
      val t0 = System.nanoTime()
      var i = 0
      while (more(i, (System.nanoTime() - t0) / 1e9) && consecutiveErrors < 3) {
        val r = try w.op(i) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e")
            consecutiveErrors += 1
            OpResult(0, 0.0, ok = false)
        }
        attempted += 1
        if (!r.ok) { failed += 1; System.err.println(s"[perfbench] op $i output check failed") }
        else { consecutiveErrors = 0; out += ((r.seconds, r.items)) }
        if (probe) speeds += Host.speed(slots)
        i += 1
      }
      (out.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.ArrayBuffer[(String, Any)]("workload" -> workload, "seed" -> seed,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "expect_s" -> expectS,
        "warmup_s" -> warmS))
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      val (ops, wall) = loop((_, el) => el < seconds, probe = true)
      val batches = ops.filter(_._2 > 0)
      val thr = Stats.median(batches.map { case (t, n) => n / t })
      val lat = batches.map(_._1)
      val (tail, pct, n) = Stats.tail(lat)
      val rss = Host.peakRssMb()
      // the host's speed swings between load windows; a workload whose ops
      // slow with the probe has its throughput and latency stated at the
      // reference probe speed, to the degree they follow it
      val scale = math.pow(Host.RefSpeed / Stats.median(speeds.toSeq), w.probeElasticity)
      metrics ++= Seq("items_per_s" -> thr * scale, "batch_p50_s" -> Stats.median(lat) / scale,
        "setup_s" -> setupS, "peak_rss_mb" -> rss)
      named(w.itemMetric._1) = (thr, w.itemMetric._2)
      named("raw_batch_p50_s") = (Stats.median(lat), "s")
      named("batch_tail_s") = (tail, "s")
      named("items_per_s") = (thr * scale, "items/s")
      named("batch_p50_s") = (Stats.median(lat) / scale, "s")
      named("setup_s") = (setupS, "s")
      named("peak_rss_mb") = (rss, "MB")
      named("fail_frac") = (if (attempted > 0) failed.toDouble / attempted else 1.0, "ratio")
      detail ++= Seq("end_to_end" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "batch_tail" -> Map("percentile" -> pct, "samples" -> n),
        "ops" -> ops.size, "loop_s" -> wall)
    } else {
      // untraced, traced, untraced again: a warming JVM would otherwise
      // favour whichever pass runs second. Each pass runs ops 0 until `pass`.
      val pass = w.tracePass
      def runPass() = loop((i, _) => i < pass, probe = false)._1
      val plainA = runPass()
      val tracer = new Tracer(spark, enabled = true, runId)
      ctx.tracer = tracer
      val tracedOps = runPass()
      val loopSpans = tracer.spans.filter(_.parent < 0)
      ctx.tracer = new Tracer(spark, enabled = false, runId)
      val plainB = runPass()
      ctx.tracer = tracer
      def thr(ops: Seq[(Double, Long)]) = ops.map(_._2).sum / ops.map(_._1).sum
      val plain = plainA ++ plainB
      val overhead = if (plain.nonEmpty && tracedOps.nonEmpty) 1.0 - thr(tracedOps) / thr(plain) else 0.0
      val sparkM = tracer.sparkTotals(loopSpans, slots)
      metrics ++= Layers.zero
      metrics ++= sparkM.map { case (k, v) => s"spark.$k" -> v }
      metrics ++= w.layers(loopSpans)
      metrics ++= GeoKernels.measure(ctx)
      metrics("trace.overhead_frac") = overhead
      detail ++= Seq("pass_ops" -> pass, "untraced_s" -> plain.map(_._1), "traced_s" -> tracedOps.map(_._1),
        "spans" -> tracer.spans.size, "trace_bookkeeping_s" -> tracer.bookkeepingS)
      tracer.close()
      tracer.writeJsonl(java.nio.file.Paths.get(opts("spans")), slots)
    }
    speeds += Host.speed(slots)
    detail += "host_speed_msteps_per_s" -> speeds.toSeq
    println(Json.obj(detail.toSeq))
    println(ResultPrefix + Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics.toMap)))
    spark.stop()
  }

  val Prepares = 3
  val WarmupOps = 3
  /** Marks the one line `run.py` turns into the benchmark's result line. */
  val ResultPrefix = "PERFBENCH_RESULT "
}

object Host {
  /** Probe speed (million steps/s) at which scaled figures are stated:
    * about the median on the 4-core virtual machine the benchmark was
    * tuned on. */
  val RefSpeed = 30.0

  private lazy val table = Array.tabulate(1 << 21)(i => graft.geo.Rng.splitmix64(i))

  /** Host speed probe: `threads` threads each run a fixed chain of hash
    * mixes and dependent reads over a 16 MB table (~0.1 s); returns million
    * steps per second over all threads. Benchmark-owned code, so an engine
    * change cannot move it; it tracks how fast the host runs right now. */
  def speed(threads: Int): Double = {
    val steps = 1000000
    val sink = new java.util.concurrent.atomic.AtomicLong
    def work(seed: Long): Unit = {
      var x = seed
      var i = 0
      while (i < steps) {
        x = (x ^ table((x & ((1 << 21) - 1)).toInt)) * 0x9E3779B97F4A7C15L
        x ^= x >>> 29
        i += 1
      }
      sink.addAndGet(x)
    }
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(t => new Thread(() => work(t + 1L)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    threads.toDouble * steps / ((System.nanoTime() - t0) / 1e3)
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
