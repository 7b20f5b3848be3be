package graft

import graft.model.SchemaRegistry
import graft.sinks.{Ddl, DumpJob}
import graft.sources.GarXml
import org.apache.spark.sql.SparkSession

/**
 * The 1:1 user-facing surface of the reference CLI
 * (/root/reference/ru_address/command.py:32-99): a user of `ru_address dump`
 * / `ru_address schema` switches to these two calls and gets byte-identical
 * files (RefParitySpec pins this against goldens produced by the reference
 * binary itself).
 *
 * Same defaults and demotions as the reference:
 *  - tables default to all 28 known logical tables (command.py:68-69)
 *  - regions default to the numeric subdirectories of the source
 *    (command.py:84-85)
 *  - a non-directory output path demotes the mode to `direct`
 *    (command.py:88-89)
 *  - csv/tsv force include_meta=false and require region_tree
 *    (command.py:91-95)
 *  - schema_path defaults to source_path (command.py:81-82)
 *  - RA_BATCH_SIZE / RA_SQL_ENCODING honored via Config.fromEnv
 *
 * Both renderers read the same input, one GarXml.read per table with its
 * (region, ord) columns: `parallel = false` streams each (table, region)
 * slice through the driver in `ord` order (DumpJob.write, the sequential
 * reference); `parallel = true` formats on the executors straight off the
 * scans' (region, ord)-ordered chunks (DumpJob.writeParallel), which meet
 * that path's checked input contract by construction. Same bytes, same
 * file list.
 */
object Gar {

  /** `ru_address dump` equivalent. Returns the files written. */
  def dump(spark: SparkSession, sourcePath: String, outputPath: String,
      target: String = "psql", mode: String = "region_tree",
      tables: Seq[String] = Nil, regions: Seq[String] = Nil,
      schemaPath: String = null, parallel: Boolean = false): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schemaDir = Option(schemaPath).getOrElse(sourcePath)

    val regionList =
      if (regions.nonEmpty) regions else GarXml.discoverRegions(sourcePath, conf)
    val tableList =
      if (tables.nonEmpty) tables else SchemaRegistry.knownTables.map(_._1)

    // mode demotion + csv/tsv constraints, exactly like the CLI
    val outIsDir = {
      val p = new org.apache.hadoop.fs.Path(outputPath)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }
    val effectiveMode = if (!outIsDir) "direct" else mode
    if ((target == "csv" || target == "tsv") && effectiveMode != "region_tree")
      throw new IllegalArgumentException("Cant mix multiple tables in single file")

    val m = effectiveMode match {
      case "direct" => DumpJob.Direct
      case "per_region" => DumpJob.PerRegion
      case "per_table" => DumpJob.PerTable
      case "region_tree" => DumpJob.RegionTree
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val cfg = DumpJob.Config.fromEnv(regionList, target, m)

    // one scan per table, for either renderer. lexicalBooleans: the dump
    // formats the RAW xs:boolean lexical value so the output reproduces
    // reference bytes for '1'/'0' too (xml.py:29-32 bool-encodes only the
    // literal strings "true"/"false")
    val common = SchemaRegistry.commonTables.map(_._1).toSet
    val tableDfs = tableList.map { t =>
      val regs = if (common(t)) Nil else regionList
      t -> GarXml.read(spark, sourcePath, t, regs, schemaDir, lexicalBooleans = true)
    }
    if (parallel) DumpJob.writeParallel(spark, tableDfs, outputPath, cfg)
    else DumpJob.write(spark, tableDfs, outputPath, cfg)
  }

  /** `ru_address schema` equivalent: XSD-derived DDL, file-per-table when
    * `outputPath` is an existing directory, single concat otherwise. */
  def schema(spark: SparkSession, sourcePath: String, outputPath: String,
      target: String = "mysql", tables: Seq[String] = Nil,
      noKeys: Boolean = false): Seq[String] = {
    val d = target match {
      case "mysql" => Ddl.MySql
      case "psql" => Ddl.Postgres
      case "clickhouse" => Ddl.ClickHouse
      case other => throw new IllegalArgumentException(s"unknown platform $other")
    }
    val tableList =
      if (tables.nonEmpty) tables else SchemaRegistry.knownTables.map(_._1)
    Ddl.writeSchema(outputPath, d, tableList,
      Ddl.Options.fromEnv(includeKeys = !noKeys), sourcePath,
      spark.sparkContext.hadoopConfiguration)
  }
}
