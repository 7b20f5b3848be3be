package graft

import org.apache.spark.sql.SparkSession

/**
 * Two-parallelism scaling evidence (BASELINE.json north rule: throughput
 * scaling efficiency >= 0.8 from N to 4N executors; sandbox substitute per
 * the driver note: the same job at local[N] vs local[4N] on identical input).
 *
 * The sandbox VM suffers intermittent multi-second host-throttling windows,
 * so a sequential N-then-4N design conflates throttling with scaling. This
 * harness *interleaves*: cycles of (local[N] run, local[4N] run) back to
 * back, taking the per-level minimum across cycles — slow windows hit both
 * levels equally in expectation and the minima reflect steady-state capacity.
 */
object ScalingBench {

  private def once(master: String, cores: Int, sf: Double, warm: Boolean): (Double, Long) = {
    val spark = SparkSession.builder()
      .master(master)
      // 4 waves of tasks per core + 16 MB scan splits: a single straggler
      // task then idles a core for 1/4 wave instead of a whole stage tail
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.DocStore.ensure(spark, sf)
    if (warm) Bench.headlinePipeline(spark, sf) // JIT + page cache
    val t0 = System.nanoTime()
    val (n, _) = Bench.headlinePipeline(spark, sf)
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(f"[scaling] $master: $sec%.3f s")
    (sec, n)
  }

  /** Single-level mode for per-JVM runs (`once <sf> <cores> <reps>`): the
    * wrapper launches one JVM per parallelism level with
    * SPARK_PROC_COUNT=<cores> so GC/JIT threads scale with task slots. */
  def mainOnce(args: Array[String]): Unit = {
    val sf = args(1).toDouble
    val n = args(2).toInt
    val reps = args(3).toInt
    require(reps >= 1 && n >= 1, s"need reps >= 1 and cores >= 1, got reps=$reps cores=$n")
    var docs = 0L
    val times = (1 to reps).map { c =>
      val (t, d) = once(s"local[$n]", n, sf, warm = c == 1)
      docs = d
      t
    }
    println(f"""{"mode":"once","sf":$sf,"docs":$docs,"cores":$n,"sec":${times.min}%.3f}""")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON artifacts
    if (args.nonEmpty && args(0) == "once") return mainOnce(args)
    val sf = if (args.nonEmpty) args(0).toDouble else 0.1
    val n = if (args.length > 1) args(1).toInt else 8
    val cycles = if (args.length > 2) args(2).toInt else 3
    require(cycles >= 1 && n >= 1, s"need cycles >= 1 and cores >= 1, got cycles=$cycles cores=$n")

    var docs = 0L
    val pairs = (1 to cycles).map { c =>
      val (tN, d) = once(s"local[$n]", n, sf, warm = c == 1)
      val (t4N, _) = once(s"local[${4 * n}]", 4 * n, sf, warm = c == 1)
      docs = d
      (tN, t4N)
    }
    val tN = pairs.map(_._1).min
    val t4N = pairs.map(_._2).min
    val speedup = tN / t4N
    val efficiency = speedup / 4.0
    println(
      f"""{"sf":$sf,"docs":$docs,"cores_n":$n,"cores_4n":${4 * n},"sec_n":$tN%.3f,"sec_4n":$t4N%.3f,"docs_per_sec_n":${docs / tN}%.0f,"docs_per_sec_4n":${docs / t4N}%.0f,"speedup":$speedup%.3f,"scaling_efficiency":$efficiency%.3f}""")
  }
}
