package graft.plans

import graft.FsText
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Per-partition checkpoint lineage + resume (north rule: "resumable from
 * checkpoint with per-partition lineage + metrics"): the one writer of
 * region-partitioned tables, the doc store among them.
 *
 * A stage writes its output to a table dir partitioned by `region`, then
 * commits the per-region manifest `_manifest.json` next to it: one line per
 * region, the partition dir name that Spark wrote (`region=<escaped key>`),
 * a tab, then the row count. Resume skips every region the manifest lists;
 * only the others are recomputed. A manifest with any other line (the old
 * JSON form) reads as uncommitted, so its table is rebuilt once.
 *
 * Crash-consistency: the manifest commit is the one commit record. A crash
 * after the data write but before the commit leaves region dirs that the
 * manifest does not list; resume DELETES them before reprocessing, so
 * re-appending can never duplicate rows. A crash inside the commit leaves
 * a complete tmp, which the next read restores ([[FsText.commitText]]).
 *
 * Single writer per table dir: a run reads the manifest, appends, and
 * commits the old entries plus its own. Two concurrent runs on one dir
 * would delete each other's uncommitted dirs, and the later commit would
 * drop the earlier one's regions. Separate dirs are independent.
 *
 * All path checks go through the Hadoop FileSystem API: on HDFS/S3 a
 * java.io.File existence check would always be false and resume would
 * silently recompute (and duplicate) everything.
 */
object Lineage {

  /** `manifest` line: partition dir name, tab, rows. Spark's path escaping
    * turns tabs and newlines in a key into `%09`/`%0A`. */
  private val Entry = """(region=[^\t]*)\t(\d+)""".r

  private def dirName(region: String) = s"region=${escapePathName(region)}"

  private def fsOf(spark: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed manifest of the table at `dir`, region -> rows (empty
    * before its first commit). Read on the driver; no Spark job. */
  def manifest(spark: SparkSession, dir: String): Map[String, Long] =
    committed(fsOf(spark, new Path(dir)), new Path(dir))
      .map { case (d, n) => unescapePathName(d.stripPrefix("region=")) -> n }

  /** The committed entries keyed by partition dir name. */
  private def committed(fs: FileSystem, dir: Path): Map[String, Long] =
    FsText.readCommitted(fs, new Path(dir, "_manifest.json")).fold(Map.empty[String, Long]) { body =>
      val lines = body.linesIterator.filter(_.nonEmpty).toSeq
      val entries = lines.collect { case Entry(d, n) => d -> n.toLong }
      if (entries.size == lines.size) entries.toMap else Map.empty
    }

  /** Commits the manifest of `dir`: `base` overlaid with the rows per region
    * of `table`, counted in one job. */
  private[graft] def commit(spark: SparkSession, dir: String, table: DataFrame,
      base: Map[String, Long]): Unit = {
    val counts = table.groupBy("region").count().collect()
      .map(r => dirName(r.getString(0)) -> r.getLong(1))
    FsText.commitText(fsOf(spark, new Path(dir)), new Path(dir, "_manifest.json"),
      (base ++ counts).toSeq.sorted.map { case (d, n) => s"$d\t$n\n" }.mkString)
  }

  /**
   * Run `transform` region-at-a-restartable-batch: skips regions already in
   * the manifest of `dir`, heals partially-written (uncommitted) region
   * dirs, processes the rest (all at once — Spark parallelism stays
   * intact), appends their output partitioned by region with 8 MB parquet
   * row groups (every file stays splittable), and commits the manifest.
   * Returns the set of regions processed this run.
   */
  def runResumable(spark: SparkSession, input: DataFrame, dir: String)(
      transform: DataFrame => DataFrame): Set[String] = {
    val path = new Path(dir)
    val fs = fsOf(spark, path)
    val done = committed(fs, path)

    // heal: data written for a region without its commit record is a torn
    // write from a crashed run — delete before reprocessing (idempotence)
    if (fs.exists(path)) fs.listStatus(path).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("region=") && !done.contains(name))
        fs.delete(st.getPath, true)
    }

    // a null region never passes the isin below, so it is no region to run
    val all = input.select("region").distinct()
      .collect().flatMap(r => Option(r.getString(0))).toSet
    val todo = all.filterNot(r => done.contains(dirName(r)))
    if (todo.isEmpty) return Set.empty

    val out = transform(input.where(col("region").isin(todo.toSeq: _*)))
    require(out.columns.contains("region"),
      "resumable transform must preserve the region partition column")
    out.write.mode(SaveMode.Append)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .partitionBy("region").parquet(dir)

    // read back with the transform's schema: partition-dir type inference
    // would coerce zero-padded region strings to ints. EVERY todo region is
    // committed, including ones whose transform legitimately produced zero
    // rows (a filter stage can empty a region) — otherwise resume would
    // reprocess them on every run forever
    commit(spark, dir,
      spark.read.schema(out.schema).parquet(dir).where(col("region").isin(todo.toSeq: _*)),
      done ++ todo.map(r => dirName(r) -> 0L))
    todo
  }
}
