package graft.sources

import graft.model.{SchemaRegistry, XsdSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import java.util

/**
 * DataSource V2 connector for GAR XML (SRC-1 packaged the idiomatic Spark
 * way): `spark.read.format("graft.sources.GarXmlSource")
 * .option("table", "ADDR_OBJ").load(sourceDir)`.
 *
 *  - schema inferred from the runtime-parsed XSD (SRC-2), registry fallback;
 *  - one InputPartition per (file, byte-range chunk): splittable ingest with
 *    element-boundary resync, parallelism >= cores not <= files;
 *  - column pruning pushed into the reader (SupportsPushDownRequiredColumns):
 *    the scanner matches only the requested attribute names and skips every
 *    other attribute without allocating; a read of just `region`/`ord` only
 *    skims for element starts, which is what the parallel dump's first pass
 *    reads;
 *  - rows produced as InternalRow straight from the scanner's byte window
 *    (strings as UTF8String over a copy of the raw bytes, no String or map
 *    per row);
 *  - the session's Hadoop conf reaches the tasks as one broadcast per scan
 *    (as Spark's own file scans ship it): the reader factory, serialized
 *    into every task, holds only the broadcast handle. Each scan copies the
 *    session's conf afresh, so a setting made between two reads reaches the
 *    second read's tasks. XSD discovery reads through the same session conf.
 *
 * Options: table (required), regions (csv, default: discover), schemaDir
 * (default: source path), chunkBytes (default 64 MB), lexicalBooleans
 * (default false: xs:boolean fields surface as StringType carrying the RAW
 * lexical value — the dump path uses this so Dump's value formatting
 * reproduces the reference's bytes for every xs:boolean lexical form: only the literal
 * strings "true"/"false" bool-encode, "1"/"0" pass through quoted,
 * xml.py:29-32).
 */
class GarXmlSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "gar-xml"

  // one XSD discovery + parse per (schemaDir, table) per provider instance:
  // Spark calls inferSchema and getTable on the same read, which would
  // otherwise glob + open + parse the XSD twice (doubled remote-FS latency)
  private val defnCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), XsdSchema.Definition]()

  private def defnOf(options: CaseInsensitiveStringMap): (XsdSchema.Definition, String) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("gar-xml: .load(sourceDir) is required"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("gar-xml: option 'table' is required"))
    val schemaDir = Option(options.get("schemaDir")).getOrElse(path)
    val defn = defnCache.computeIfAbsent((schemaDir, table), { key =>
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      try GarXml.definitionOf(key._1, key._2, conf)
      catch { case _: java.io.FileNotFoundException =>
        XsdSchema.Definition(
          XsdSchema.collectionTagOf(SchemaRegistry.entityOf(table)),
          XsdSchema.entityTagOf(SchemaRegistry.entityOf(table)),
          SchemaRegistry.schemaOf(table).fields.toSeq, "")
      }
    })
    (defn, table)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (defn, _) = defnOf(options)
    val fields =
      if (options.getBoolean("lexicalBooleans", false))
        defn.fields.map(f =>
          if (f.dataType == BooleanType) f.copy(dataType = StringType) else f)
      else defn.fields
    StructType(fields ++ Seq(
      StructField("region", StringType, nullable = true),
      StructField("ord", LongType, nullable = false)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (defn, table) = defnOf(options)
    new GarXmlTable(table, defn, schema, options)
  }

  override def supportsExternalMetadata(): Boolean = false
}

class GarXmlTable(tableName: String, defn: XsdSchema.Definition,
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  override def name(): String = s"gar_xml_$tableName"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new GarXmlScanBuilder(tableName, defn, tableSchema, options)
}

class GarXmlScanBuilder(table: String, defn: XsdSchema.Definition,
    full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var required: StructType = full
  private var regionFilter: Option[Set[String]] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Region predicates become FILE pruning (the V2 analog of partition
    * pruning on the directory-as-partition layout, dump.py:12-14). Every
    * filter is also retained by Spark post-scan, so accepting only the
    * region shapes we understand is safe. */
  /** The set of regions a filter ALLOWS, when expressible: EqualTo / In over
    * `region`, plus Or-chains of those (Catalyst plans `r === a || r === b`
    * as Or, not In). None = not a region-set shape (no pruning from it). */
  private def regionSet(f: org.apache.spark.sql.sources.Filter): Option[Set[String]] = {
    import org.apache.spark.sql.sources.{EqualTo, In, Or}
    f match {
      case EqualTo("region", v: String) => Some(Set(v))
      case In("region", vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.collect { case s: String => s }.toSet)
      case Or(l, r) => for (a <- regionSet(l); b <- regionSet(r)) yield a union b
      case _ => None
    }
  }

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val regions = filters.flatMap(regionSet)
    if (regions.nonEmpty) {
      regionFilter = Some(regions.reduce(_ intersect _))
      pushed = filters.filter(regionSet(_).isDefined)
    }
    filters // Spark re-applies everything after the scan (correctness-safe)
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new GarXmlScan(table, defn, required, options, regionFilter)
}

class GarXmlScan(table: String, defn: XsdSchema.Definition,
    required: StructType, options: CaseInsensitiveStringMap,
    regionFilter: Option[Set[String]] = None) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GarXmlScan(table=$table, columns=${required.fieldNames.mkString(",")}" +
      regionFilter.map(r => s", regions=${r.toSeq.sorted.mkString("|")}").getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] = {
    val sourceDir = options.get("path")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val chunkBytes = Option(options.get("chunkBytes")).map(_.toLong).getOrElse(64L * 1024 * 1024)
    val isCommon = SchemaRegistry.commonTables.exists(_._1 == table)
    val files: Seq[(String, String)] =
      if (isCommon) Seq("" -> GarXml.discoverFile(sourceDir, table, "xml", conf))
      else {
        val regs0 = Option(options.get("regions")).map(_.split(",").toSeq.map(_.trim))
          .getOrElse(GarXml.discoverRegions(sourceDir, conf))
        val regs = regionFilter match {
          case Some(keep) => regs0.filter(keep) // pushed-down file pruning
          case None => regs0
        }
        regs.map(r => r -> GarXml.discoverFile(s"$sourceDir/$r", table, "xml", conf))
      }
    files.flatMap { case (region, path) =>
      val len = new Path(path).getFileSystem(conf).getFileStatus(new Path(path)).getLen
      val n = math.max(1L, (len + chunkBytes - 1) / chunkBytes)
      (0L until n).map(i =>
        GarXmlInputPartition(region, path, i * chunkBytes, math.min(len, (i + 1) * chunkBytes)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // a copy: the broadcast holds the conf as it is now, whatever the
    // session sets later (a local task would otherwise read the live object)
    val sc = SparkSession.active.sparkContext
    GarXmlReaderFactory(defn.entityTag, required,
      sc.broadcast(new SerializableConfiguration(new Configuration(sc.hadoopConfiguration))))
  }
}

case class GarXmlInputPartition(region: String, path: String, start: Long, end: Long)
    extends InputPartition

object GarXmlReaderFactory {
  /** "yyyy-MM-dd" in the UTF-8 bytes a(off until off + len) -> epoch day
    * with zero allocation (civil-to-days, Hinnant's algorithm — what
    * java.time does internally, minus the LocalDate object per value).
    * Falls back to java.time for any non-canonical shape. */
  def isoToEpochDay(a: Array[Byte], off: Int, len: Int): Int = {
    def at(i: Int): Int = a(off + i)
    def fallback: Int = java.time.LocalDate.parse(
      new String(a, off, len, java.nio.charset.StandardCharsets.UTF_8)).toEpochDay.toInt
    // the fast path must verify every digit position: "2021-0a-01" has the
    // right length and dashes but would otherwise yield a silent garbage
    // epoch day where LocalDate.parse raises on corrupt GAR data
    var digitsOk = len == 10 && at(4) == '-' && at(7) == '-'
    if (digitsOk) {
      var i = 0
      while (i < 10 && digitsOk) {
        if (i != 4 && i != 7) {
          val c = at(i)
          digitsOk = c >= '0' && c <= '9'
        }
        i += 1
      }
    }
    if (!digitsOk) return fallback
    val y0 = (at(0) - '0') * 1000 + (at(1) - '0') * 100 + (at(2) - '0') * 10 + (at(3) - '0')
    val m = (at(5) - '0') * 10 + (at(6) - '0')
    val d = (at(8) - '0') * 10 + (at(9) - '0')
    // range-invalid digits ("0000-00-00" sentinels, month 13+, Apr 31,
    // non-leap Feb 29) must raise like LocalDate.parse, not arithmetic
    // into the next month's epoch day
    val dim =
      if (m == 2) { if ((y0 % 4 == 0 && y0 % 100 != 0) || y0 % 400 == 0) 29 else 28 }
      else if (m == 4 || m == 6 || m == 9 || m == 11) 30
      else 31
    if (m < 1 || m > 12 || d < 1 || d > dim) return fallback
    val y = if (m <= 2) y0 - 1 else y0
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }
}

/** One reader per input partition: the split scanner over the partition's
  * byte range, converting only the `required` columns (GarXml.scanElements).
  * `conf` is the scan's broadcast Hadoop conf: each task carries the handle,
  * and an executor fetches the conf once per scan. */
case class GarXmlReaderFactory(entityTag: String, required: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GarXmlInputPartition]
    val path = new Path(p.path)
    val stream = path.getFileSystem(conf.value.value).open(path)
    if (p.start > 0) stream.seek(p.start)
    val rows = GarXml.scanElements(stream, p.start, p.end, entityTag, required, p.region)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = stream.close()
    }
  }
}
