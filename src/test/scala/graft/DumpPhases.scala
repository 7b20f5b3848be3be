package graft

import graft.synth.GarFixtureBig
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.collection.mutable

/**
 * Where the time of a parallel GAR dump goes. Runs `warm` unmeasured and then
 * `dumps` measured `Gar.dump(parallel = true)` calls (psql, `region_tree`,
 * ADDR_OBJ) over a `GarFixtureBig` tree, and splits each call at its two
 * Spark jobs, as a SparkListener records them:
 *  - before: call start to the skim job's start (planning, region discovery);
 *  - skim: the (region, ord) job;
 *  - gap: skim job end to parse job start (run checks, planning the parse pass);
 *  - parse: the parse-and-format job that writes the section parts;
 *  - assembly: parse job end to the call's return (concatenating the files).
 * Prints the median of each phase over the measured calls, the median delay
 * from each job's start to its first task's launch, and the median and max of
 * each job's task durations and per-task `executorDeserializeTime`. Times are
 * the scheduler's event times, in ms.
 *
 * Args: [regions (3)] [rowsPerRegion (10000)] [dumps (20)] [warm (3)], on
 * `local[$SPARK_GRAFT_CPUS]` (default: all cores). Run it through
 * tools/dump_phases.sh, or `sbt 'Test/runMain graft.DumpPhases 3 10000 20'`.
 */
object DumpPhases {

  /** Job and task events, by job and stage id. */
  private final class Recorder extends SparkListener {
    val jobs = mutable.Map.empty[Int, (String, Long, Seq[Int])] // group, start, stages
    val jobEnds = mutable.Map.empty[Int, Long]
    val launches = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val deserializeMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = (group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      launches.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.launchTime
      durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (e.taskMetrics != null) deserializeMs.getOrElseUpdate(e.stageId,
        mutable.ArrayBuffer.empty) += e.taskMetrics.executorDeserializeTime
    }
  }

  /** One measured dump: its phases in ms, and per job (skim, parse) the
    * delay to the first task, the tasks' durations and their deserialize times. */
  private case class Split(phases: Seq[Double], firstTask: Seq[Double],
      durations: Seq[Seq[Long]], deser: Seq[Seq[Long]])

  private val Phases = Seq("wall", "before", "skim", "gap", "parse", "assembly")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.delete(_))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Seq(nRegions, rows, dumps, warm) = Seq(3, 10000, 20, 3).zipWithIndex.map {
      case (default, i) => args.lift(i).map(_.toInt).getOrElse(default)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)

    val dir = Files.createTempDirectory("dump_phases")
    try {
      val regions = (1 to nRegions).map(i => f"$i%02d")
      val root = GarFixtureBig.write(dir.resolve("gar").toString, regions, rows)

      def dump(i: Int): Split = {
        val group = s"dump_phases_$i"
        val out = Files.createDirectories(dir.resolve(s"out_$i"))
        sc.setJobGroup(group, group)
        val t0 = System.currentTimeMillis()
        try Gar.dump(spark, root, out.toString, target = "psql", mode = "region_tree",
          tables = Seq("ADDR_OBJ"), regions = regions, parallel = true)
        finally sc.clearJobGroup()
        val t1 = System.currentTimeMillis()
        deleteTree(out)
        Bus.drain(sc)
        rec.synchronized {
          val ids = rec.jobs.collect { case (id, (`group`, _, _)) => id }.toSeq.sorted
          if (ids.length != 2) throw new IllegalStateException(
            s"dump $i ran ${ids.length} Spark jobs; the phase split expects 2 (skim, parse)")
          val Seq(skim, parse) = ids.map(id => (rec.jobs(id)._2, rec.jobEnds(id), rec.jobs(id)._3))
          val firstTask = Seq(skim, parse).map { case (start, _, stages) =>
            (stages.flatMap(rec.launches.getOrElse(_, Nil)).min - start).toDouble
          }
          def perTask(of: mutable.Map[Int, mutable.ArrayBuffer[Long]]): Seq[Seq[Long]] =
            Seq(skim, parse).map { case (_, _, stages) => stages.flatMap(of.getOrElse(_, Nil)) }
          Split(Seq(t1 - t0, skim._1 - t0, skim._2 - skim._1, parse._1 - skim._2,
            parse._2 - parse._1, t1 - parse._2).map(_.toDouble), firstTask,
            perTask(rec.durations), perTask(rec.deserializeMs))
        }
      }

      (0 until warm).foreach(i => dump(-1 - i))
      val splits = (0 until dumps).map(dump)

      println(s"dump_phases: $nRegions regions x $rows rows, local[$cpus], " +
        s"median of $dumps dumps after $warm warm-up, ms")
      for ((name, k) <- Phases.zipWithIndex)
        println(f"dump_phases: $name%-24s ${median(splits.map(_.phases(k)))}%8.1f")
      for ((job, k) <- Seq("skim", "parse").zipWithIndex) {
        println(f"dump_phases: ${job + " job start to task"}%-24s " +
          f"${median(splits.map(_.firstTask(k)))}%8.1f")
        for ((what, of) <- Seq[(String, Split => Seq[Long])](
            "task duration" -> (_.durations(k)), "task deserialize" -> (_.deser(k)))) {
          val tasks = splits.flatMap(of).map(_.toDouble)
          println(f"dump_phases: ${s"$job $what"}%-24s ${median(tasks)}%8.1f" +
            f"  (max ${tasks.max}%.0f over ${tasks.length} tasks)")
        }
      }
    } finally {
      sc.removeSparkListener(rec)
      deleteTree(dir)
      spark.stop()
    }
  }
}
