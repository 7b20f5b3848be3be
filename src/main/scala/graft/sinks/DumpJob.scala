package graft.sinks

import graft.model.SchemaRegistry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/**
 * Output-mode router (SURVEY.md OUT-1..4; the reference's output.py:9-189):
 * `direct` (one file), `per_region`, `per_table`, `region_tree`
 * (source-mirroring, the default). Which files exist and where the meta
 * skeleton goes — copyright, dialect header/footer, "\n"-prefixed table
 * separators, which modes emit separators for common tables — is decided
 * ONCE, as data, by `layout`, mirroring output.py's four writers line for
 * line. Byte-parity against the runnable reference CLI is pinned by
 * RefParitySpec on goldens produced by `ru_address dump` itself
 * (tools/gen_ref_goldens.sh), through both renderers.
 *
 * Two renderers of that one layout, both writing through the Hadoop
 * FileSystem API (local FS, HDFS and S3 all work — no executor-side
 * java.io.File assumptions):
 *
 *  - driver-streamed (`write`): each slice streams from the provider through
 *    toLocalIterator in output order — the reference's sequential semantics;
 *    constant memory (a partition at a time). Conformance path.
 *  - executor-parallel (`writeParallel`): executors format every table into
 *    per-region section parts (`writeSections`; rows grouped by region
 *    *within* each partition, so hash-sharing regions never bleed into each
 *    other's files); each output file is then a byte concat of its meta
 *    pieces and section parts (no row touches the driver). This is the
 *    100 TB path: the CPU-heavy formatting scales with executors; only the
 *    byte concat of one output file is serial.
 */
object DumpJob {

  sealed trait Mode
  case object Direct extends Mode
  case object PerRegion extends Mode
  case object PerTable extends Mode
  case object RegionTree extends Mode

  /** Provider: (table, Some(region) | None for common) -> ordered slice. */
  type SliceProvider = (String, Option[String]) => DataFrame

  case class Config(
      tables: Seq[String],
      regions: Seq[String],
      dialect: Dump.Dialect,
      mode: Mode = RegionTree,
      includeMeta: Boolean = true,
      batchSize: Int = 500)

  object Config {
    /** ENV-driven knobs, mirroring the reference (CFG-1, command.py:25-29):
      * RA_BATCH_SIZE (dump.py:54), RA_SQL_ENCODING (dump.py:97). */
    def fromEnv(tables: Seq[String], regions: Seq[String], target: String,
        mode: Mode = RegionTree): Config = {
      val batch = sys.env.getOrElse("RA_BATCH_SIZE", "500").toInt
      val dialect = target match {
        case "mysql" => Dump.mysqlWith(sys.env.getOrElse("RA_SQL_ENCODING", "utf8mb4"))
        case other => Dump.dialects(other)
      }
      Config(tables, regions, dialect, mode,
        includeMeta = target != "csv" && target != "tsv", batchSize = batch)
    }
  }

  private def commonTables(cfg: Config): Seq[String] =
    SchemaRegistry.commonTables.map(_._1).filter(cfg.tables.contains)

  private def regionTables(cfg: Config): Seq[String] =
    SchemaRegistry.regionTables.map(_._1).filter(cfg.tables.contains)

  /** One piece of an output file: meta text (copyright + dialect header,
    * table separators, the bare "\n" before a common table, footer) or one
    * (table, region) slice with its table wrappers. */
  private sealed trait Piece
  private case class Meta(text: String) extends Piece
  private case class Slice(table: String, region: Option[String]) extends Piece

  /**
   * The output contract of output.py's four writers, decided once: every
   * file to write, in output order, with its pieces. Both renderers consume
   * it, so the two execution paths cannot drift apart.
   *  - Direct (output.py:47-74): one header; "\n" + separator before every
   *    table; "\n" + footer at the end.
   *  - PerRegion (output.py:77-113): one file per COMMON table (with
   *    separator) and one per region (separator per table).
   *  - PerTable (output.py:116-151): common files have NO separator; region
   *    tables get one file with a separator per region.
   *  - RegionTree (output.py:154-189): common files no separator; one file
   *    per (region, table) with separator.
   * Meta pieces are dropped when `includeMeta` is off (csv/tsv).
   */
  private def layout(outPath: String, cfg: Config, commons: Seq[String],
      regionTs: Seq[String]): Seq[(String, Seq[Piece])] = {
    val ext = cfg.dialect.extension
    val regions = cfg.regions.sorted
    val head = Meta(Dump.composeCopyright() + cfg.dialect.header)
    val foot = Meta("\n" + cfg.dialect.footer)
    def separated(t: String, r: Option[String]): Seq[Piece] =
      Seq(Meta("\n" + Dump.composeTableSeparator(t, r)), Slice(t, r))
    def file(path: String, body: Seq[Piece]): (String, Seq[Piece]) =
      path -> (head +: body :+ foot)
    def commonFiles(withSep: Boolean): Seq[(String, Seq[Piece])] = commons.map { t =>
      file(s"$outPath/$t.$ext",
        if (withSep) separated(t, None) else Seq(Meta("\n"), Slice(t, None)))
    }
    val files = cfg.mode match {
      case Direct =>
        Seq(file(outPath, commons.flatMap(separated(_, None)) ++
          (for (r <- regions; t <- regionTs) yield separated(t, Some(r))).flatten))
      case PerRegion =>
        commonFiles(withSep = true) ++ regions.map(r =>
          file(s"$outPath/$r.$ext", regionTs.flatMap(separated(_, Some(r)))))
      case PerTable =>
        commonFiles(withSep = false) ++ regionTs.map(t =>
          file(s"$outPath/$t.$ext", regions.flatMap(r => separated(t, Some(r)))))
      case RegionTree =>
        commonFiles(withSep = false) ++ (for (r <- regions; t <- regionTs)
          yield file(s"$outPath/$r/$t.$ext", separated(t, Some(r))))
    }
    if (cfg.includeMeta) files
    else files.map { case (path, pieces) => path -> pieces.filterNot(_.isInstanceOf[Meta]) }
  }

  /**
   * Driver-streamed dump in any mode: renders `layout`, streaming each slice
   * from the provider through `Dump.formatRows`. Returns the files written,
   * in output order.
   */
  def write(provider: SliceProvider, outPath: String, cfg: Config,
      conf: Configuration = new Configuration()): Seq[String] = {
    val files = layout(outPath, cfg, commonTables(cfg), regionTables(cfg))
    for ((path, pieces) <- files) {
      val p = new Path(path)
      val w = new BufferedWriter(
        new OutputStreamWriter(p.getFileSystem(conf).create(p, true), StandardCharsets.UTF_8))
      try pieces.foreach {
        case Meta(text) => w.write(text)
        case Slice(t, r) =>
          val df = provider(t, r)
          Dump.formatRows(df.toLocalIterator().asScala, df.schema.fieldNames.toSeq,
            t, cfg.dialect, cfg.batchSize).foreach(w.write)
      } finally w.close()
    }
    files.map(_._1)
  }

  // ---------------------------------------------------- executor-parallel

  /** Per-region section inventory: ordered part paths + total row count. */
  private type Sections = Map[String, (Seq[String], Long)]

  /**
   * Format one region-partitioned table into per-region section PART files,
   * in parallel across AND within regions. `df` must carry `region` and
   * `ord` columns plus the data columns in schema order.
   *
   * Two passes over one range-partitioned arrangement (the shuffle is
   * computed once and reused across both jobs):
   *  1. count the contiguous (partition, region) runs;
   *  2. format each run with its GLOBAL start row index — the reference's
   *     per-row emission depends only on that index (Dump.formatRowAt), so a
   *     1M-row region is formatted by many tasks whose parts concatenate to
   *     the exact sequential bytes. (Previously one task per region: a hot
   *     region serialised the whole dump.)
   * Table wrappers and the final line ending are added at assembly time.
   */
  private def writeSections(spark: SparkSession, df: DataFrame, table: String,
      sectionDir: String, cfg: Config): Sections = {
    val dialect = cfg.dialect
    val batch = cfg.batchSize
    val ext = dialect.extension
    val dataFields = df.schema.fieldNames.filterNot(n => n == "region" || n == "ord").toSeq
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // Two persists, both load-bearing:
    //  - src: range-boundary sampling is an extra pass over the child — on an
    //    XML ingest that would re-parse every file; cache the parsed rows so
    //    parsing happens exactly once.
    //  - arranged: BOTH passes must see the exact same partition boundaries;
    //    RangePartitioner samples per physical planning and the two actions
    //    plan separately — without the pin a boundary row could shift between
    //    the count pass and the format pass and corrupt the offsets.
    val src = df.select((col("region") +: col("ord") +: dataFields.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val arranged = src
      .repartitionByRange(parts, col("region"), col("ord"))
      .sortWithinPartitions(col("region"), col("ord"))
      .select((col("region") +: dataFields.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // pass 1: (partitionId, regionKey, rows) per contiguous region run
    import org.apache.spark.sql.Encoders
    val runs: Array[(Int, String, Long)] = arranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val key = Option(r.getString(0)).getOrElse("_common")
        counts(key) = counts.getOrElse(key, 0L) + 1L
      }
      counts.iterator.map { case (k, n) => (pid, k, n) }
    }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaLong))
      .collect()

    // global start offset of each (partition, region) run + per-region totals
    val byRegion = runs.groupBy(_._2)
    val startOf: Map[(Int, String), Long] = byRegion.flatMap { case (region, rs) =>
      var acc = 0L
      rs.sortBy(_._1).map { case (pid, _, n) =>
        val s = ((pid, region), acc); acc += n; s
      }
    }
    val totals: Map[String, Long] = byRegion.map { case (r, rs) => r -> rs.map(_._3).sum }

    // pass 2: format each run at its offset into {table}/{region}/p{pid}.{ext}
    arranged.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // NB: not named "buffered" — inside `new Iterator`, that name would
      // resolve to the inherited Iterator.buffered METHOD on `this`,
      // re-buffering the anon itself into infinite mutual recursion
      val lookahead = it.buffered
      while (lookahead.hasNext) {
        val region = Option(lookahead.head.getString(0)).getOrElse("_common")
        val sectionRows = new Iterator[Row] {
          def hasNext: Boolean = lookahead.hasNext &&
            Option(lookahead.head.getString(0)).getOrElse("_common") == region
          def next(): Row = Row.fromSeq(lookahead.next().toSeq.drop(1))
        }
        val p = new Path(f"$sectionDir/$table/$region/p$pid%05d.$ext")
        val fs = p.getFileSystem(serConf.value)
        val w = new BufferedWriter(new OutputStreamWriter(fs.create(p, true), StandardCharsets.UTF_8))
        try Dump.formatRowsAt(sectionRows, dataFields, table, dialect, batch,
          startOf((pid, region))).foreach(w.write)
        finally w.close()
      }
    }

    arranged.unpersist(false)
    src.unpersist(false)
    byRegion.map { case (region, rs) =>
      region -> (rs.map(_._1).sorted.map(pid => f"$sectionDir/$table/$region/p$pid%05d.$ext"),
        totals(region))
    }
  }

  /** Stream-copy a section file into an open writer (byte-bound, no rows). */
  private def copySection(w: java.io.OutputStream, path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try org.apache.hadoop.io.IOUtils.copyBytes(in, w, 1 << 16, false)
    finally in.close()
  }

  /**
   * Executor-parallel dump in any mode: executors format the section parts,
   * then the driver renders `layout` by streaming concatenation of meta text
   * and section files (no row ever crosses the driver). Returns the files
   * written, sorted. `tableDfs` supplies each table's region-partitioned
   * DataFrame with (region, ord) columns; common tables pass region = null
   * rows.
   */
  def writeParallel(spark: SparkSession, tableDfs: Seq[(String, DataFrame)],
      outPath: String, cfg: Config, stagingDir: String = null): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // staging must be a SIBLING of outPath, not nested under it: in Direct
    // mode outPath is the output FILE, and writing sections under it first
    // would turn it into a directory the final assembly can't overwrite.
    // A caller-supplied stagingDir gets a GENERATED subdirectory: the
    // cleanup below deletes `staging` recursively, and wiping a shared
    // scratch dir the caller owns (with whatever else lives in it) is not
    // this writer's call to make.
    val staging = Option(stagingDir)
      .map(d => s"$d/__sections_${java.util.UUID.randomUUID().toString.take(8)}")
      .getOrElse(s"$outPath.__sections")

    // 1. distributed formatting into section parts
    val sections: Map[String, Sections] = tableDfs.map { case (t, df) =>
      t -> writeSections(spark, df, t, staging, cfg)
    }.toMap

    // 2. render the layout: each file is a byte concat of meta text and
    // section parts through Hadoop FS. Files are independent, so they are
    // assembled on a driver thread pool (sized for IO concurrency, not CPU
    // count) — with many regions a serial concat would otherwise dominate.
    // Staging is cleaned in a finally: a failed assembly must not leave
    // section files for a 100 TB dump stranded on the store.
    val files = layout(outPath, cfg, commonTables(cfg).filter(sections.contains),
      regionTables(cfg).filter(sections.contains))
    def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
    def assemble(path: String, pieces: Seq[Piece]): Unit = {
      val p = new Path(path)
      val out = p.getFileSystem(conf).create(p, true)
      try pieces.foreach {
        case Meta(text) => out.write(bytes(text))
        case Slice(t, r) =>
          // parts hold row bodies only; an absent section is an empty slice,
          // which still gets its wrappers (the reference emits them too)
          val (parts, total) = sections(t).getOrElse(r.getOrElse("_common"), (Nil, 0L))
          out.write(bytes(cfg.dialect.tableStart(t)))
          parts.foreach(copySection(out, _, conf))
          out.write(bytes(cfg.dialect.tableTail(t, total > 0)))
      } finally out.close()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, files.size)))
    try {
      try {
        val futures = files.map { case (path, pieces) =>
          pool.submit(new Runnable { def run(): Unit = assemble(path, pieces) })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    } finally {
      val sfs = new Path(staging).getFileSystem(conf)
      sfs.delete(new Path(staging), true)
    }
    files.map(_._1).sorted
  }
}
