package graft

import org.apache.spark.sql.SparkSession

/**
 * Engine side of the reference-vs-engine dump-throughput race
 * (tools/ref_throughput.sh): times Gar.dump over a pre-generated big fixture
 * tree, excluding session startup (the reference's interpreter startup is
 * likewise excluded by timing inside its run). Prints one JSON line.
 *
 * Args: fixtureRoot outDir target [parallel]
 */
object RefThroughput {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON artifact line
    val Array(fix, out, target) = args.take(3)
    val parallel = args.length > 3 && args(3) == "parallel"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // output paths must pre-exist as dirs or the mode demotes to `direct`,
    // exactly like the reference CLI (command.py:88-89)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/_warm"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/run"))

    // warm JIT on a small slice so the timed run measures steady state
    Gar.dump(spark, fix, s"$out/_warm", target = target, mode = "region_tree",
      tables = Seq("ADDR_OBJ"), regions = Seq("01"), parallel = parallel)

    val t0 = System.nanoTime()
    val files = Gar.dump(spark, fix, s"$out/run", target = target,
      mode = "region_tree", tables = Seq("ADDR_OBJ"), parallel = parallel)
    val sec = (System.nanoTime() - t0) / 1e9

    val rows = spark.read.textFile(files: _*).count() // emitted lines ~ rows
    println(f"""{"engine":"graft","target":"$target","parallel":$parallel,"sec":$sec%.2f,"out_lines":$rows}""")
    spark.stop()
  }
}
