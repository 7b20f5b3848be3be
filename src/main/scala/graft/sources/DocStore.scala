package graft.sources

import graft.{FsText, Jsons}
import graft.model.Doc
import graft.synth.DataGen
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/**
 * Iceberg-shaped canonical document store on Parquet.
 *
 * No Iceberg jar ships in this sandbox (`build.sbt` is offline), so the store
 * emulates the surface the engine needs from Iceberg: identity partitioning by
 * `region` (the reference's directory-as-partition layout,
 * /root/reference/ru_address/dump.py:12-14), a JSON manifest snapshot with
 * per-partition row counts (lineage/metrics), and partition-pruned reads.
 */
object DocStore {

  /** Schema applied on every read: partition-dir type inference would turn the
    * zero-padded region "01" into int 1 (silent key corruption); an explicit
    * schema keeps `region` a 2-digit string, exactly like the reference treats
    * region directory names (dump.py:12-14). */
  val docSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Doc].schema

  def path(sf: Double): String = s"target/synth/sf$sf/documents"

  /** Idempotent: generate + write the sf-scale doc table if absent.
    * Hadoop FS throughout (like Lineage/DumpJob) — the store works on
    * HDFS/S3 paths, not just the local FS. The committed manifest is the
    * store's one commit record: it is written after the data job, so a
    * crash before it regenerates the store. */
  def ensure(spark: SparkSession, sf: Double): String = {
    val p = path(sf)
    def done = committedCounts(spark, p).isDefined
    if (!done) synchronized {
      if (!done) {
        val docs = DataGen.documents(spark, sf)
        // Hot-region skew handling at the storage layer: region 77 carries
        // 20x the rows; without salting it lands in one file whose single
        // row group caps downstream scan parallelism at 1 task for ~36% of
        // the data (measured: 32-core run used 7.6 cores). Salted
        // repartition spreads each region over up to 8 writer tasks and the
        // 8 MB row-group size keeps every file splittable.
        docs
          .repartition(org.apache.spark.sql.functions.col("region"),
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.hash(
                org.apache.spark.sql.functions.col("doc_id")),
              org.apache.spark.sql.functions.lit(8)))
          .write.mode(SaveMode.Overwrite)
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .partitionBy("region").parquet(p)
        writeManifest(spark, p)
      }
    }
    p
  }

  /** Iceberg-ish snapshot manifest: per-partition row counts, committed
    * atomically ([[commitCounts]]). */
  def writeManifest(spark: SparkSession, p: String): Unit = {
    val dir = new Path(p)
    commitCounts(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir,
      regionCounts(spark.read.schema(docSchema).parquet(p)))
  }

  private[graft] def committedCounts(spark: SparkSession, p: String): Option[Map[String, Long]] = {
    val dir = new Path(p)
    committedCounts(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** Rows per `region` of `df`, by one groupBy action. */
  private[graft] def regionCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("region").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The per-region manifest `dir/_manifest.json` (region -> rows), the
    * one record that the doc store and [[graft.plans.Lineage]] commit:
    * this writer and [[committedCounts]], its parser, are shared by both.
    * The commit is [[FsText.commitText]]: one writer per `dir` at a time. */
  private[graft] def commitCounts(fs: FileSystem, dir: Path, counts: Map[String, Long]): Unit = {
    val body = counts.toSeq.sortBy(_._1)
      .map { case (r, c) => s"""    {"region": ${Jsons.str(r)}, "rows": $c}""" }
      .mkString("[\n", ",\n", "\n  ]")
    FsText.commitText(fs, new Path(dir, "_manifest.json"),
      s"""{
         |  "format": "graft-region-manifest-v1",
         |  "partition_spec": ["region"],
         |  "partitions": $body
         |}""".stripMargin)
  }

  /** The committed manifest of `dir`, or None when none is committed (a
    * torn commit is restored first, [[FsText.readCommitted]]). */
  private[graft] def committedCounts(fs: FileSystem, dir: Path): Option[Map[String, Long]] =
    FsText.readCommitted(fs, new Path(dir, "_manifest.json")).map { json =>
      """\{"region": "((?:[^"\\]|\\.)*)", "rows": (\d+)\}""".r.findAllMatchIn(json)
        .map(m => Jsons.unstr(m.group(1)) -> m.group(2).toLong).toMap
    }

  /** Partition-pruned read: Catalyst prunes to the listed region dirs
    * (the reference's -r region filter, command.py:66-67). */
  def read(spark: SparkSession, p: String, regions: Seq[String] = Nil): Dataset[Doc] = {
    import spark.implicits._
    val df = spark.read.schema(docSchema).parquet(p)
    val pruned = if (regions.isEmpty) df else df.where(df("region").isin(regions: _*))
    pruned.as[Doc]
  }

  def readDf(spark: SparkSession, p: String, regions: Seq[String] = Nil): DataFrame = {
    val df = spark.read.schema(docSchema).parquet(p)
    if (regions.isEmpty) df else df.where(df("region").isin(regions: _*))
  }

  /**
   * Read with the span struct pruned to `spanFields` — an EXPLICIT nested
   * projection pushed to the parquet reader via the read schema. Catalyst's
   * nested-schema pruning does not reach through posexplode/higher-order
   * lambdas (measured: both headline branches read all four span subfields),
   * so branches that never touch `text` (the fat column) declare it away:
   * the scan decodes only the requested subfields.
   */
  def readDfPruned(spark: SparkSession, p: String, spanFields: Seq[String],
      regions: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val spanStruct = docSchema("spans").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val pruned = StructType(docSchema.fields.map {
      case f if f.name == "spans" =>
        f.copy(dataType = ArrayType(
          StructType(spanStruct.fields.filter(sf => spanFields.contains(sf.name))),
          containsNull = false))
      case f => f
    })
    val df = spark.read.schema(pruned).parquet(p)
    if (regions.isEmpty) df else df.where(df("region").isin(regions: _*))
  }
}
