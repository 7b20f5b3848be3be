package graft

import org.apache.spark.sql.SparkSession

/** Extra measurement main (guide §1.4) — NOT part of the driver contract:
  * times individual queries in isolation with a noop sink (every column of
  * every row computed, no output cost) and labelled jobs, so one query can
  * be profiled without paying the whole bench. `graft.Bench` stays the
  * frozen driver-facing artifact; numbers from here are cited in
  * OPTIMIZATION_r06.md only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.BenchExtra q_knn q_knn_addresses"
  * (no args = every query). REPS env (default 2): per-query repetitions,
  * all timed — rep 1 doubles as warmup evidence.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.gf.registerAll(spark)
    SparkEntry.prebuild(spark, sfDir)
    val wanted =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    wanted.filterNot(SparkEntry.queries.contains).foreach(n =>
      println(s"EXTRA $n UNKNOWN (not a declared query) — skipped"))
    for (name <- wanted; fn <- SparkEntry.queries.get(name); rep <- 1 to reps) {
      spark.sparkContext.setJobDescription(s"$name rep$rep")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"EXTRA $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case e: Throwable =>
        println(s"EXTRA $name rep$rep FAILED ${e.getMessage}")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
