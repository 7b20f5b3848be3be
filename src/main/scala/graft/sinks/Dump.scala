package graft.sinks

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/**
 * Formatted dump sinks (SURVEY.md SNK-1..4, ENC-1..3, BAT-1): the Spark
 * re-expression of the reference's `TableRepresentation` + `Data.convert_and_
 * dump` (/root/reference/ru_address/common.py:87-106, source/xml.py:13-79,
 * dump.py:90-238). Byte-compatible with the reference's output:
 *
 *  - NULL -> dialect null repr (xml.py:26-28)
 *  - booleans -> dialect bool repr (xml.py:29-32)
 *  - per-char escape translation then quote wrap (xml.py:33-37)
 *  - fixed-size INSERT batching with batch headers and `,\n` / `;\n` line
 *    endings exactly as the reference emits them (xml.py:43-61)
 *  - MySQL DISABLE/ENABLE KEYS wrappers (dump.py:104-115)
 *
 * The formatter is a pure Iterator[Row] -> Iterator[String] function, applied
 * per partition (`mapPartitions`) — order-preserving and shuffle-free, the
 * same constant-memory streaming shape as the reference's SAX loop.
 */
object Dump {

  case class Dialect(
      name: String,
      extension: String,
      quotes: String = "\"",
      quotesSystem: String = "`",
      delimiter: String = ", ",
      rowIndent: String = "\t",
      rowParens: (String, String) = ("(", ")"),
      lineEnding: String = ",\n",
      lineEndingLast: String = ";\n",
      boolRepr: (String, String) = ("0", "1"),
      nullRepr: String = "NULL",
      escape: Map[Char, String] = Map.empty,
      batched: Boolean = true,
      tableWrappers: Boolean = false,
      header: String = "",
      footer: String = "") extends Serializable {

    def tableStart(table: String): String =
      if (tableWrappers) s"\n/*!40000 ALTER TABLE `$table` DISABLE KEYS */;\n" else ""

    def tableEnd(table: String): String =
      if (tableWrappers) s"/*!40000 ALTER TABLE `$table` ENABLE KEYS */;\n" else ""

    /** What closes a table slice: the last row's line ending (only if the
      * slice had rows) + the table end wrapper. */
    def tableTail(table: String, nonEmpty: Boolean): String =
      (if (nonEmpty) lineEndingLast else "") + tableEnd(table)

    def batchStart(table: String, fields: Seq[String]): String =
      if (!batched) ""
      else {
        val fq = fields.mkString(s"$quotesSystem, $quotesSystem")
        s"INSERT INTO $quotesSystem$table$quotesSystem ($quotesSystem$fq$quotesSystem) VALUES \n"
      }

    /** `escape` as a table indexed by char: one array read per char, no
      * Map lookup or Option. */
    @transient private lazy val escapeTable: Array[String] = {
      val t = new Array[String](if (escape.isEmpty) 0 else escape.keys.max + 1)
      escape.foreach { case (c, rep) => t(c) = rep }
      t
    }

    private def escapeOf(c: Char): String =
      if (c < escapeTable.length) escapeTable(c) else null

    /** `v` with every escapable char replaced; `v` itself when it has none. */
    def escapeValue(v: String): String =
      if (!v.exists(escapeOf(_) != null)) v
      else {
        val sb = new java.lang.StringBuilder(v.length + 8)
        v.foreach { c => val rep = escapeOf(c); if (rep == null) sb.append(c) else sb.append(rep) }
        sb.toString
      }
  }

  /** The four target platforms (dump.py:90-238). MySQL's session header takes
    * the charset from RA_SQL_ENCODING exactly like the reference
    * (dump.py:97, command.py:25-29). */
  def mysqlWith(encoding: String): Dialect = Dialect("mysql", "sql",
    escape = Map('\\' -> "\\\\", '"' -> "\\\""),
    tableWrappers = true,
    header = "/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;\n" +
      s"/*!40101 SET NAMES $encoding */;\n" +
      "/*!40014 SET @OLD_FOREIGN_KEY_CHECKS=@@FOREIGN_KEY_CHECKS, FOREIGN_KEY_CHECKS=0 */;\n" +
      "/*!40101 SET @OLD_SQL_MODE=@@SQL_MODE, SQL_MODE='NO_AUTO_VALUE_ON_ZERO' */;\n",
    footer = "/*!40101 SET SQL_MODE=IFNULL(@OLD_SQL_MODE, '') */;\n" +
      "/*!40014 SET FOREIGN_KEY_CHECKS=IF(@OLD_FOREIGN_KEY_CHECKS IS NULL, 1, @OLD_FOREIGN_KEY_CHECKS) */;\n" +
      "/*!40101 SET CHARACTER_SET_CLIENT=@OLD_CHARACTER_SET_CLIENT */;\n")

  /** Resolves RA_SQL_ENCODING at CALL time — a `val` would freeze the
    * env as of class-load, and both DumpJob.Config.fromEnv and the parity
    * spec had grown special cases to work around exactly that. */
  def mysql: Dialect = mysqlWith(sys.env.getOrElse("RA_SQL_ENCODING", "utf8mb4"))

  val psql: Dialect = Dialect("psql", "sql",
    quotes = "'", quotesSystem = "\"",
    boolRepr = ("'0'", "'1'"),
    escape = Map('\\' -> "\\\\", '\'' -> "\\'"))

  val csv: Dialect = Dialect("csv", "csv",
    quotes = "\"", delimiter = ",", nullRepr = "\\N",
    rowIndent = "", rowParens = ("", ""),
    lineEnding = "\n", lineEndingLast = "\n",
    escape = Map('\\' -> "\\\\", '"' -> "\\\""),
    batched = false)

  val tsv: Dialect = Dialect("tsv", "tsv",
    quotes = "", delimiter = "\t", nullRepr = "\\N",
    rowIndent = "", rowParens = ("", ""),
    lineEnding = "\n", lineEndingLast = "\n",
    escape = Map('\\' -> "\\\\", '\r' -> "\\r", '\n' -> "\\n", '\t' -> "\\t"),
    batched = false)

  def dialects: Map[String, Dialect] =
    Map("mysql" -> mysql, "psql" -> psql, "csv" -> csv, "tsv" -> tsv)

  /** Typed value -> the string the reference would have seen as an XML
    * attribute (dates ISO, integers plain, booleans handled separately). */
  private def stringify(v: Any): String = v match {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  /** Append one value formatted per the dialect (xml.py:25-38). The
    * reference bool-encodes the literal strings "false"/"true" in ANY column
    * (xml.py:29-32) — including string fields whose value happens to be the
    * word "true" — so the check is on the stringified value, not the type. */
  private def appendValue(sb: java.lang.StringBuilder, v: Any, dialect: Dialect): Unit =
    if (v == null) sb.append(dialect.nullRepr)
    else {
      val s = stringify(v)
      if (s == "false") sb.append(dialect.boolRepr._1)
      else if (s == "true") sb.append(dialect.boolRepr._2)
      else sb.append(dialect.quotes).append(dialect.escapeValue(s)).append(dialect.quotes)
    }

  /** Append the emission for ONE row at global index `idx`; `batchHead` is
    * the dialect's `batchStart` for the table, computed once by the caller. */
  private def appendRowAt(sb: java.lang.StringBuilder, idx: Long, row: Row, nFields: Int,
      batchHead: String, dialect: Dialect, batchSize: Int): Unit = {
    val untilNewBulk = idx % batchSize
    if (idx != 0)
      sb.append(if (untilNewBulk == 0) dialect.lineEndingLast else dialect.lineEnding)
    if (untilNewBulk == 0) sb.append(batchHead)
    sb.append(dialect.rowIndent).append(dialect.rowParens._1)
    var i = 0
    while (i < nFields) {
      if (i > 0) sb.append(dialect.delimiter)
      appendValue(sb, row.get(i), dialect)
      i += 1
    }
    sb.append(dialect.rowParens._2)
  }

  /**
   * Emission for ONE row at global index `idx` — the reference's per-row
   * text (xml.py:42-61) depends ONLY on the global row index (separator
   * before every row but the first; batch header whenever idx %% batchSize
   * == 0), so ranges of rows can be formatted independently given their
   * start offsets and concatenated: the executor-parallel dump path.
   */
  def formatRowAt(idx: Long, row: Row, fields: Seq[String], table: String,
      dialect: Dialect, batchSize: Int): String = {
    val sb = new java.lang.StringBuilder
    val head = if (idx % batchSize == 0) dialect.batchStart(table, fields) else ""
    appendRowAt(sb, idx, row, fields.length, head, dialect, batchSize)
    sb.toString
  }

  /** Row bodies only (no table wrappers, no final line ending), starting at
    * a given global row index — one partition's contribution to a dump.
    * Only the first `fields.length` columns of each row are read. */
  def formatRowsAt(rows: Iterator[Row], fields: Seq[String], table: String,
      dialect: Dialect, batchSize: Int, startIdx: Long): Iterator[String] = {
    val head = dialect.batchStart(table, fields)
    val nFields = fields.length
    val sb = new java.lang.StringBuilder
    var i = startIdx
    rows.map { row =>
      sb.setLength(0)
      appendRowAt(sb, i, row, nFields, head, dialect, batchSize)
      i += 1
      sb.toString
    }
  }

  /**
   * The streaming formatter: rows -> text chunks, reproducing
   * Data.convert_and_dump's emission order byte for byte (xml.py:13-79).
   */
  def formatRows(rows: Iterator[Row], fields: Seq[String], table: String,
      dialect: Dialect, batchSize: Int = 500): Iterator[String] = {
    var any = false
    val head = Iterator.single(dialect.tableStart(table))
    val body = formatRowsAt(rows.map { r => any = true; r }, fields, table, dialect, batchSize, 0L)
    // by-name element: evaluated only after the body has been drained
    val tail = Iterator.fill(1)(dialect.tableTail(table, any))
    (head ++ body ++ tail).filter(_.nonEmpty)
  }

  /** Format a whole (small or pre-partitioned) DataFrame slice to one string —
    * the conformance/golden-test path. Row order = input order. */
  def formatSlice(df: DataFrame, table: String, dialect: Dialect,
      batchSize: Int = 500): String = {
    val fields = df.schema.fieldNames.toSeq
    formatRows(df.toLocalIterator().asScala, fields, table, dialect, batchSize).mkString
  }

  /** Copyright banner, byte-compatible with the reference's compose_copyright
    * (core.py:71-92): same version string (compatibility banner, like
    * mysqldump's), same bar/padding arithmetic. Only the `generated at` line
    * varies run to run — parity tests normalize exactly that line, nothing
    * else. */
  def composeCopyright(): String = {
    val versionString =
      "ru_address v2.2.1 -- get latest version at https://github.com/shadz3rg/ru_address"
    val now = java.time.LocalDateTime.now()
    val micros = now.getNano / 1000
    val ts = f"${now.toLocalDate} ${now.getHour}%02d:${now.getMinute}%02d:${now.getSecond}%02d.$micros%06d"
    val generationTs = s"generated at $ts"
    val bar = "-" * versionString.length
    s"-- $bar --\n-- $versionString --\n-- $generationTs${" " * math.max(0, versionString.length - generationTs.length)} --\n-- $bar --\n\n"
  }

  def composeTableSeparator(table: String, region: Option[String]): String =
    region match {
      case Some(r) => s"-- Region: `$r`, Table: `$table`\n"
      case None => s"-- Table: `$table`\n"
    }
}
