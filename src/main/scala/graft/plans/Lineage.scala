package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Per-partition checkpoint lineage + resume (north rule: "resumable from
 * checkpoint with per-partition lineage + metrics").
 *
 * A stage writes its output partitioned by `region`, then records one
 * manifest row per partition under `_progress/` (rows, wall-clock, stage id).
 * Resume = anti-join the input's partition list against the done-manifest:
 * only missing regions are recomputed.
 *
 * Crash-consistency: the manifest row is the COMMIT RECORD for a region. A
 * crash after the data write but before record() leaves regions
 * written-but-unrecorded; resume heals this by DELETING any region directory
 * present under data/ but absent from the manifest before reprocessing it —
 * so re-appending can never duplicate rows, at any crash point.
 *
 * All path checks go through the Hadoop FileSystem API: on HDFS/S3 a
 * java.io.File existence check would always be false and resume would
 * silently recompute (and duplicate) everything.
 */
object Lineage {

  case class PartitionRecord(stage: String, region: String, rows: Long, wallMs: Long)

  def progressPath(outPath: String): String = s"$outPath/_progress"

  /** Data is scoped per stage: healing compares a stage's on-disk region dirs
    * against ITS manifest only, so one stage's torn write can never delete
    * another stage's committed data under the same output root. */
  def dataPath(outPath: String, stage: String): String = s"$outPath/data/$stage"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Regions already completed for a stage (empty on first run). */
  def doneRegions(spark: SparkSession, outPath: String, stage: String): Set[String] = {
    if (!exists(spark, progressPath(outPath))) return Set.empty
    import spark.implicits._
    spark.read.parquet(progressPath(outPath))
      .where(col("stage") === stage)
      .select("region").as[String].collect().toSet
  }

  /** Record completion of a set of regions with row counts + timing. */
  def record(spark: SparkSession, outPath: String, stage: String,
      counts: Map[String, Long], wallMs: Long): Unit = {
    import spark.implicits._
    counts.toSeq.map { case (r, n) => PartitionRecord(stage, r, n, wallMs) }
      .toDF()
      .write.mode(SaveMode.Append).parquet(progressPath(outPath))
  }

  /** Region partition dirs currently present for a stage (region=NN names). */
  private def regionsOnDisk(spark: SparkSession, outPath: String, stage: String): Set[String] = {
    val d = new Path(dataPath(outPath, stage))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return Set.empty
    fs.listStatus(d).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("region=") =>
        st.getPath.getName.stripPrefix("region=")
    }.toSet
  }

  /**
   * Run `transform` region-at-a-restartable-batch: skips regions already in
   * the progress manifest, heals partially-written (uncommitted) region dirs,
   * processes the rest (all at once — Spark parallelism stays intact),
   * appends their output partitioned by region, and records lineage.
   * Returns the set of regions processed this run.
   */
  def runResumable(spark: SparkSession, input: DataFrame, outPath: String,
      stage: String)(transform: DataFrame => DataFrame): Set[String] = {
    val done = doneRegions(spark, outPath, stage)

    // heal: data written for a region without its commit record is a torn
    // write from a crashed run — delete before reprocessing (idempotence)
    val torn = regionsOnDisk(spark, outPath, stage) -- done
    if (torn.nonEmpty) {
      val fs = new Path(dataPath(outPath, stage))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      torn.foreach(r => fs.delete(new Path(dataPath(outPath, stage), s"region=$r"), true))
    }

    val all = input.select("region").distinct()
      .collect().map(_.getString(0)).toSet
    val todo = all -- done
    if (todo.isEmpty) return Set.empty

    val t0 = System.currentTimeMillis()
    val slice = input.where(col("region").isin(todo.toSeq: _*))
    val out = transform(slice)
    require(out.columns.contains("region"),
      "resumable transform must preserve the region partition column")
    // live task metrics (MET-1) captured around the stage's write and surfaced
    // next to the manifest as _metrics/{stage}.json
    val (_, snap) = Metrics.measure(spark) {
      out.write.mode(SaveMode.Append).partitionBy("region").parquet(dataPath(outPath, stage))
    }
    writeMetrics(spark, outPath, stage, snap)

    // read back with the transform's schema: partition-dir type inference
    // would coerce zero-padded region strings to ints
    val written = spark.read.schema(out.schema).parquet(dataPath(outPath, stage))
      .where(col("region").isin(todo.toSeq: _*))
      .groupBy("region").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // EVERY todo region gets a commit record, including ones whose transform
    // legitimately produced zero rows (a filter stage can empty a region) —
    // otherwise the groupBy yields no row for them, no record is written,
    // and resume reprocesses them on every run forever.
    // wallMs is the BATCH wall clock stamped on each region of the batch
    // (regions are processed in one job for parallelism; a per-region wall
    // would require per-region jobs) — consumers must not sum it.
    val counts = todo.map(r => r -> written.getOrElse(r, 0L)).toMap
    record(spark, outPath, stage, counts, System.currentTimeMillis() - t0)
    todo
  }

  /** Stage-level task-metrics snapshot, next to the manifest. */
  def metricsPath(outPath: String, stage: String): String = s"$outPath/_metrics/$stage.json"

  private def writeMetrics(spark: SparkSession, outPath: String, stage: String,
      snap: Metrics.Snapshot): Unit = {
    val p = new Path(metricsPath(outPath, stage))
    val json =
      s"""{"stage": "$stage", "rowsRead": ${snap.rowsRead}, "bytesRead": ${snap.bytesRead},
         | "rowsWritten": ${snap.rowsWritten}, "bytesWritten": ${snap.bytesWritten},
         | "tasks": ${snap.tasks}, "wallMs": ${snap.wallMs}}""".stripMargin
    graft.FsText.writeText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, json)
  }

  /** The lineage/metrics view for inspection. */
  def progress(spark: SparkSession, outPath: String): DataFrame = {
    if (exists(spark, progressPath(outPath))) spark.read.parquet(progressPath(outPath))
    else spark.emptyDataFrame
  }
}
