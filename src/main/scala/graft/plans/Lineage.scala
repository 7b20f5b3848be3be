package graft.plans

import graft.sources.DocStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Per-partition checkpoint lineage + resume (north rule: "resumable from
 * checkpoint with per-partition lineage + metrics").
 *
 * A stage writes its output partitioned by `region` under [[dataPath]],
 * then commits the per-region manifest next to it: rows per region, the
 * same `_manifest.json` the doc store commits ([[DocStore.commitCounts]]).
 * Resume skips every region the manifest lists; only the others are
 * recomputed.
 *
 * Crash-consistency: the manifest commit is the one commit record. A crash
 * after the data write but before the commit leaves region dirs that the
 * manifest does not list; resume DELETES them before reprocessing, so
 * re-appending can never duplicate rows. A crash inside the commit leaves
 * a complete tmp, which the next read restores.
 *
 * Single writer per stage: a run reads the manifest, appends, and commits
 * the old entries plus its own. Two concurrent runs of one stage would
 * delete each other's uncommitted dirs, and the later commit would drop
 * the earlier one's regions. Stages under one output root are independent.
 *
 * All path checks go through the Hadoop FileSystem API: on HDFS/S3 a
 * java.io.File existence check would always be false and resume would
 * silently recompute (and duplicate) everything.
 */
object Lineage {

  /** Data and manifest are scoped per stage: healing compares a stage's
    * on-disk region dirs against ITS manifest only, so one stage's torn
    * write can never delete another stage's committed data under the same
    * output root. */
  def dataPath(outPath: String, stage: String): String = s"$outPath/data/$stage"

  /** A stage's committed manifest, region -> rows (empty before its first
    * commit). Read on the driver; no Spark job. */
  def manifest(spark: SparkSession, outPath: String, stage: String): Map[String, Long] =
    DocStore.committedCounts(spark, dataPath(outPath, stage)).getOrElse(Map.empty)

  /**
   * Run `transform` region-at-a-restartable-batch: skips regions already in
   * the manifest, heals partially-written (uncommitted) region dirs,
   * processes the rest (all at once — Spark parallelism stays intact),
   * appends their output partitioned by region, and commits the manifest.
   * Returns the set of regions processed this run.
   */
  def runResumable(spark: SparkSession, input: DataFrame, outPath: String,
      stage: String)(transform: DataFrame => DataFrame): Set[String] = {
    val dir = new Path(dataPath(outPath, stage))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = DocStore.committedCounts(fs, dir).getOrElse(Map.empty)

    // heal: data written for a region without its commit record is a torn
    // write from a crashed run — delete before reprocessing (idempotence).
    // Dir names carry the partition value path-escaped.
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("region=") &&
          !done.contains(unescapePathName(name.stripPrefix("region="))))
        fs.delete(st.getPath, true)
    }

    // a null region never passes the isin below, so it is no region to run
    val all = input.select("region").distinct()
      .collect().flatMap(r => Option(r.getString(0))).toSet
    val todo = all -- done.keySet
    if (todo.isEmpty) return Set.empty

    val out = transform(input.where(col("region").isin(todo.toSeq: _*)))
    require(out.columns.contains("region"),
      "resumable transform must preserve the region partition column")
    out.write.mode(SaveMode.Append).partitionBy("region").parquet(dir.toString)

    // read back with the transform's schema: partition-dir type inference
    // would coerce zero-padded region strings to ints
    val written = DocStore.regionCounts(spark.read.schema(out.schema).parquet(dir.toString)
      .where(col("region").isin(todo.toSeq: _*)))
    // EVERY todo region is committed, including ones whose transform
    // legitimately produced zero rows (a filter stage can empty a region) —
    // otherwise resume would reprocess them on every run forever
    DocStore.commitCounts(fs, dir, done ++ todo.map(r => r -> written.getOrElse(r, 0L)))
    todo
  }
}
