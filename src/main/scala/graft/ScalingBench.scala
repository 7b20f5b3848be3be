package graft

import org.apache.spark.sql.SparkSession

/**
 * One parallelism level of the scaling evidence (BASELINE.json north rule:
 * throughput scaling efficiency >= 0.8 from N to 4N executors; local
 * substitute: the same job at local[N] vs local[4N] on identical input).
 *
 * `tools/scaling_run.sh` runs this main once per level and cycle, one JVM
 * each, interleaving the N and 4N levels so that host-throttling windows
 * hit both equally in expectation, and reports the per-level minima.
 */
object ScalingBench {

  private def once(cores: Int, sf: Double, warm: Boolean): (Double, Long) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
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
    println(f"[scaling] local[$cores]: $sec%.3f s")
    (sec, n)
  }

  /** `<sf> <cores> <reps>`: the headline at local[cores], min over reps.
    * The wrapper starts this JVM with SPARK_PROC_COUNT=<cores> so GC/JIT
    * threads scale with task slots. */
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON artifacts
    val sf = args(0).toDouble
    val n = args(1).toInt
    val reps = args(2).toInt
    require(reps >= 1 && n >= 1, s"need reps >= 1 and cores >= 1, got reps=$reps cores=$n")
    var docs = 0L
    val times = (1 to reps).map { c =>
      val (t, d) = once(n, sf, warm = c == 1)
      docs = d
      t
    }
    println(f"""{"mode":"once","sf":$sf,"docs":$docs,"cores":$n,"sec":${times.min}%.3f}""")
  }
}
