package graft.sinks

import graft.model.SchemaRegistry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors}
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
 * One input contract, GarXml.read's output: `tableDfs` holds one DataFrame
 * per table to dump, with the data columns in schema order plus `region`
 * (null for a common table) and `ord` (ascending in source order within a
 * region; GarXml.read gives each element's byte offset in its file). The
 * tables dumped are the tables listed.
 *
 * Two renderers of that one layout over that one input, both writing
 * through the Hadoop FileSystem API of the session's conf (local FS, HDFS
 * and S3 all work — no executor-side java.io.File assumptions), both
 * returning the files written in layout order:
 *
 *  - driver-streamed (`write`): each slice is cut from its table's input
 *    (`region = r`, which GarXml.read turns into file pruning), sorted by
 *    `ord` and streamed through toLocalIterator in output order — the
 *    reference's sequential semantics, an independent, explicitly ordered
 *    reference for the parallel renderer; constant memory (a partition at
 *    a time).
 *  - executor-parallel (`writeParallel`): executors format every table
 *    into per-region section parts straight off its input partitions
 *    (`writeSections`: a skim pass over (region, ord), a parse-and-format
 *    pass, nothing persisted, no shuffle); each
 *    output file is then a byte concat of its meta pieces and section parts
 *    (no row touches the driver). This is the 100 TB path: formatting
 *    scales with the scan's chunks; only the byte concat of one output file
 *    is serial.
 */
object DumpJob {

  sealed trait Mode
  case object Direct extends Mode
  case object PerRegion extends Mode
  case object PerTable extends Mode
  case object RegionTree extends Mode

  case class Config(
      regions: Seq[String],
      dialect: Dump.Dialect,
      mode: Mode = RegionTree,
      batchSize: Int = 500)

  object Config {
    /** ENV-driven knobs, mirroring the reference (CFG-1, command.py:25-29):
      * RA_BATCH_SIZE (dump.py:54), RA_SQL_ENCODING (dump.py:97). */
    def fromEnv(regions: Seq[String], target: String, mode: Mode = RegionTree): Config = {
      val batch = sys.env.getOrElse("RA_BATCH_SIZE", "500").toInt
      val dialect = target match {
        case "mysql" => Dump.mysqlWith(sys.env.getOrElse("RA_SQL_ENCODING", "utf8mb4"))
        case other => Dump.dialects(other)
      }
      Config(regions, dialect, mode, batchSize = batch)
    }
  }

  /** The data columns of an input: all but `region` and `ord`. */
  private def dataFields(df: DataFrame): Seq[String] =
    df.schema.fieldNames.filterNot(n => n == "region" || n == "ord").toSeq

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
   * csv/tsv carry no meta pieces (the reference's include_meta,
   * command.py:91-95). Only the `tables` given are laid out.
   */
  private def layout(outPath: String, cfg: Config,
      tables: Set[String]): Seq[(String, Seq[Piece])] = {
    val commons = SchemaRegistry.commonTables.map(_._1).filter(tables)
    val regionTs = SchemaRegistry.regionTables.map(_._1).filter(tables)
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
    if (cfg.dialect.name != "csv" && cfg.dialect.name != "tsv") files
    else files.map { case (path, pieces) => path -> pieces.filterNot(_.isInstanceOf[Meta]) }
  }

  /**
   * Driver-streamed dump in any mode: renders `layout`, cutting each slice
   * from its table's input (`region = r` for a region table), sorting it by
   * `ord` and streaming it through `Dump.formatRows`. Returns the files
   * written, in layout order.
   */
  def write(spark: SparkSession, tableDfs: Seq[(String, DataFrame)], outPath: String,
      cfg: Config): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dfs = tableDfs.toMap
    val files = layout(outPath, cfg, dfs.keySet)
    for ((path, pieces) <- files) {
      val p = new Path(path)
      val w = new BufferedWriter(
        new OutputStreamWriter(p.getFileSystem(conf).create(p, true), StandardCharsets.UTF_8))
      try pieces.foreach {
        case Meta(text) => w.write(text)
        case Slice(t, r) =>
          val df = dfs(t)
          val fields = dataFields(df)
          val slice = r.fold(df)(region => df.where(col("region") === region))
            .orderBy("ord").select(fields.map(col): _*)
          Dump.formatRows(slice.toLocalIterator().asScala, fields, t, cfg.dialect,
            cfg.batchSize).foreach(w.write)
      } finally w.close()
    }
    files.map(_._1)
  }

  // ---------------------------------------------------- executor-parallel

  /** Per-region section inventory: ordered part paths + total row count. */
  private type Sections = Map[String, (Seq[String], Long)]

  /** One contiguous run of a region's rows in one input partition:
    * (partition id, region key, rows, first ord, last ord). */
  private type Run = (Int, String, Long, Long, Long)

  /** The region key of a row whose `region` column is at `at`. */
  private def keyOf(r: Row, at: Int): String = {
    val region = r.getString(at)
    if (region == null) "_common" else region
  }

  /**
   * Cuts this task's rows into runs, the maximal stretches of one region key
   * ascending in `ord` (`region` at column `at`, `ord` at `at + 1`). Each
   * run streams through `consume`, which must drain it; the result lists
   * every run in row order. Both passes of `writeSections` cut with this one
   * rule, so equal inputs give equal run lists.
   */
  private def cutRuns(rows: Iterator[Row], at: Int)(
      consume: (String, Iterator[Row]) => Unit): Iterator[Run] = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val in = rows.buffered
    val out = scala.collection.mutable.ArrayBuffer.empty[Run]
    while (in.hasNext) {
      val key = keyOf(in.head, at)
      val first = in.head.getLong(at + 1)
      var n = 0L
      var last = Long.MinValue
      consume(key, new Iterator[Row] {
        def hasNext: Boolean =
          in.hasNext && in.head.getLong(at + 1) > last && keyOf(in.head, at) == key
        def next(): Row = { val r = in.next(); last = r.getLong(at + 1); n += 1; r }
      })
      out += ((pid, key, n, first, last))
    }
    out.iterator
  }

  private val runEncoder = {
    import org.apache.spark.sql.Encoders
    Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
  }

  /**
   * Format one region-partitioned table into per-region section PART files,
   * straight off `df`'s own partitions. `df` carries `region` and `ord`
   * columns plus the data columns in schema order (the input contract of
   * both renderers), and must also meet the order contract of
   * `writeParallel`:
   *  - within a partition, each region's rows are contiguous and ascending
   *    in `ord`;
   *  - in partition order, each run of a region starts past the previous
   *    run's last `ord`.
   * GarXml.read meets it by construction: one partition per file chunk, in
   * (region, byte offset) order. A violation throws IllegalArgumentException
   * naming the region, before any byte is written.
   *
   * Nothing is persisted: `df` is evaluated twice, by two passes.
   *  1. The skim pass selects only (region, ord); column pruning pushes that
   *     into the scan, so a GAR read only skims for element starts. It
   *     collects the contiguous (partition, region) runs with their ord
   *     range.
   *  2. The parse pass reads the data columns with (region, ord), cuts each
   *     partition into runs by the same rule and formats each run with its
   *     GLOBAL start row index into {table}/{region}/p{pid} — the
   *     reference's per-row emission depends only on that index
   *     (Dump.formatRowAt), so the parts of a region concatenate to the
   *     exact sequential bytes. Its tasks reach the session's Hadoop conf
   *     through one broadcast made for this pass and destroyed once the
   *     pass has collected; the scan's tasks get theirs from the scan.
   * The parse pass reports the runs it formatted. If they differ from the
   * skim pass's in count or ord range (an input whose second evaluation
   * yields other rows), this throws IllegalStateException naming the table
   * and partition, and the parts are never assembled.
   * Table wrappers and the final line ending are added at assembly time.
   */
  private def writeSections(spark: SparkSession, df: DataFrame, table: String,
      sectionDir: String, cfg: Config): Sections = {
    val dialect = cfg.dialect
    val batch = cfg.batchSize
    val ext = dialect.extension
    val fields = dataFields(df)

    // pass 1 (skim): runs in partition order, and within a partition in row order
    val runs: Array[Run] = df.select("region", "ord")
      .mapPartitions(cutRuns(_, 0)((_, run) => run.foreach(_ => ())))(runEncoder).collect()

    // the contract: a region's runs lie in distinct partitions, each
    // starting past the previous one's last ord
    val byRegion = runs.groupBy(_._2)
    for ((region, rs) <- byRegion; Array(a, b) <- rs.sliding(2))
      if (a._1 == b._1 || b._4 <= a._5) throw new IllegalArgumentException(
        s"$table: region $region breaks the input order between partitions " +
          s"${a._1} and ${b._1}: a region's rows must be contiguous within a " +
          "partition and ascending in ord across partitions")

    // each run's global start row index within its region
    val startOf: Map[(Int, String), Long] = byRegion.flatMap { case (region, rs) =>
      rs.map(r => (r._1, region)).zip(rs.scanLeft(0L)(_ + _._3))
    }

    // pass 2 (parse): data columns first, so the formatter reads only them;
    // each run goes to {table}/{region}/p{pid}.{ext} at its offset. The
    // tasks capture the conf's broadcast handle, not the conf itself
    val at = fields.length
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(new Configuration(spark.sparkContext.hadoopConfiguration)))
    val formatted: Array[Run] = try df.select((fields :+ "region" :+ "ord").map(col): _*)
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        cutRuns(rows, at) { (region, run) =>
          val path = new Path(f"$sectionDir/$table/$region/p$pid%05d.$ext")
          val w = new BufferedWriter(new OutputStreamWriter(
            path.getFileSystem(conf.value.value).create(path, true), StandardCharsets.UTF_8))
          try Dump.formatRowsAt(run, fields, table, dialect, batch,
            startOf.getOrElse((pid, region), 0L)).foreach(w.write)
          finally w.close()
        }
      }(runEncoder).collect()
    finally conf.destroy()

    // both lists are in partition order: at the first difference, the side
    // with the lower partition id names the partition that changed
    runs.map(Option(_)).zipAll(formatted.map(Option(_)), None, None).collectFirst {
      case (a, b) if a != b => (a ++ b).map(_._1).min
    }.foreach { pid =>
      throw new IllegalStateException(
        s"$table: partition $pid held other rows in the parse pass than in the skim " +
          "pass; the input must evaluate to the same rows each time")
    }

    byRegion.map { case (region, rs) =>
      region -> (rs.map(r => f"$sectionDir/$table/$region/p${r._1}%05d.$ext").toSeq,
        rs.map(_._3).sum)
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
   * Executor-parallel dump in any mode: executors format the section parts
   * straight off each table's input partitions (`writeSections`), then the
   * driver renders `layout` by streaming concatenation of meta text and
   * section files (no row ever crosses the driver). Returns the files
   * written, in layout order.
   *
   * `tableDfs` is the input of both renderers, under a checked order
   * contract: within a partition a region's rows are contiguous and
   * ascending in `ord`, and in partition order each run of a region starts
   * past the previous run's last `ord`. GarXml.read meets it as read; a
   * reshuffled input (say a `repartition`) throws IllegalArgumentException
   * naming the region. There is no re-sorting fallback: formatting
   * parallelism is the input's.
   *
   * Each DataFrame is evaluated twice and nothing is persisted: a skim pass
   * reads only (region, ord), then a parse pass formats the data columns.
   * Both evaluations must yield the same rows in the same partitions
   * (GarXml.read does); where the parse pass finds other runs than the skim
   * pass, this throws IllegalStateException naming the table and partition
   * and writes no output file.
   *
   * Section parts stage under `$outPath.__sections`, a SIBLING of outPath:
   * in Direct mode outPath is the output FILE, and staging under it would
   * turn it into a directory the final assembly can't overwrite.
   */
  def writeParallel(spark: SparkSession, tableDfs: Seq[(String, DataFrame)],
      outPath: String, cfg: Config): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = s"$outPath.__sections"

    // Staging is cleaned in a finally around BOTH steps: a failed format or
    // assembly must not leave section files for a 100 TB dump stranded on
    // the store.
    try {
      // 1. distributed formatting into section parts
      val sections: Map[String, Sections] = tableDfs.map { case (t, df) =>
        t -> writeSections(spark, df, t, staging, cfg)
      }.toMap

      // 2. render the layout: each file is a byte concat of meta text and
      // section parts through Hadoop FS. Files are independent, so they are
      // assembled on a driver thread pool (sized for IO concurrency, not CPU
      // count) — with many regions a serial concat would otherwise dominate.
      val files = layout(outPath, cfg, sections.keySet)
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
      // invokeAll returns only once every file is done, so no task still
      // reads `staging` when the finally below deletes it; the first
      // failure is rethrown as itself
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(8, files.size)))
      val done = try pool.invokeAll(files.map { case (path, pieces) =>
        (() => assemble(path, pieces)): Callable[Unit]
      }.asJava) finally pool.shutdown()
      done.asScala.foreach { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      files.map(_._1)
    } finally {
      val sfs = new Path(staging).getFileSystem(conf)
      sfs.delete(new Path(staging), true)
    }
  }
}
