package graft.sinks

import graft.model.SchemaRegistry
import org.apache.spark.sql.types._

/**
 * StructType -> CREATE TABLE DDL (SURVEY.md DDL-1/2) for the three target
 * platforms, mirroring the reference's XSLT templates
 * (resources/templates/{mysql,postgres,clickhouse}.schema.xsl and
 * *.index.xsl): type map, NOT NULL / NULL DEFAULT NULL, column/table
 * comments, PRIMARY KEY clause after the last column, DROP TABLE toggle,
 * ENGINE parameter. Pure driver-side Scala — no cluster work.
 */
object Ddl {

  sealed trait Dialect { def name: String }
  case object MySql extends Dialect { val name = "mysql" }
  case object Postgres extends Dialect { val name = "psql" }
  case object ClickHouse extends Dialect { val name = "clickhouse" }

  case class Options(
      includeDrop: Boolean = true,
      tableEngine: String = "", // "" -> per-dialect default (schema.py:106,146)
      includeKeys: Boolean = true,
      tableComment: String = "")

  object Options {
    /** ENV-driven knobs (CFG-1): RA_INCLUDE_DROP (schema.py:105,125,144) and
      * RA_TABLE_ENGINE (schema.py:106-107,145-146). */
    def fromEnv(includeKeys: Boolean = true): Options = Options(
      includeDrop = sys.env.getOrElse("RA_INCLUDE_DROP", "1") == "1",
      tableEngine = sys.env.getOrElse("RA_TABLE_ENGINE", ""),
      includeKeys = includeKeys)
  }

  private def engineOf(d: Dialect, o: Options): String =
    if (o.tableEngine.nonEmpty) o.tableEngine
    else d match {
      case MySql => "MyISAM"
      case ClickHouse => "MergeTree"
      case Postgres => ""
    }

  private def maxLen(f: StructField): Int =
    if (f.metadata.contains("maxLength")) f.metadata.getLong("maxLength").toInt else 0

  private def commentOf(f: StructField): String =
    if (f.metadata.contains("comment")) f.metadata.getString("comment") else ""

  /** Type map per SURVEY.md §1.2 (mysql.schema.xsl:21-62 et al.). */
  def columnType(d: Dialect, f: StructField): String = {
    val len = maxLen(f)
    (d, f.dataType) match {
      case (MySql, ShortType) => "INT(5)"
      case (MySql, IntegerType) => "INT(10)"
      case (MySql, LongType) => "INT(19)"
      case (MySql, ByteType) => "INT(1)"
      case (MySql, BooleanType) => "INT(1)"
      case (MySql, DateType) => "DATE"
      case (MySql, StringType) if len > 255 => "TEXT"
      case (MySql, StringType) if len > 0 => s"VARCHAR($len)"
      // no length facet = direct @type="xs:string": the XSLT's catch-all
      // <xsl:otherwise> emits VARCHAR(128) (mysql.schema.xsl:62), not TEXT
      case (MySql, StringType) => "VARCHAR(128)"
      case (MySql, _) => "VARCHAR(128)"

      case (Postgres, ShortType) => "smallint"
      case (Postgres, IntegerType) => "integer"
      case (Postgres, LongType) => "bigint"
      case (Postgres, ByteType) => "smallint"
      case (Postgres, BooleanType) => "boolean"
      case (Postgres, DateType) => "date"
      case (Postgres, StringType) if len > 255 => "text"
      case (Postgres, StringType) if len > 0 => s"varchar($len)"
      case (Postgres, StringType) => "varchar(128)" // direct xs:string, see MySql note
      case (Postgres, _) => "varchar(128)"

      case (ClickHouse, ShortType) => "Int16"
      case (ClickHouse, IntegerType) => "Int32"
      case (ClickHouse, LongType) => "Int64"
      case (ClickHouse, ByteType) => "Int8"
      case (ClickHouse, BooleanType) => "Bool"
      case (ClickHouse, DateType) => "Date"
      case (ClickHouse, StringType) => "String"
      case (ClickHouse, _) => "String"
    }
  }

  private def q(d: Dialect, ident: String): String = d match {
    case Postgres => s""""$ident""""
    case _ => s"`$ident`"
  }

  /** The key grammar of resources/index.xml ({mysql,postgres,clickhouse}
    * .index.xsl:22-31): primary-key, foreign-key, key. The shipped index.xml
    * uses only primary-key, but the grammar is part of the surface. */
  sealed trait Key
  case class PrimaryKey(field: String) extends Key
  case class ForeignKey(field: String, forTable: String, forField: String) extends Key
  case class IndexKey(field: String) extends Key

  /** Render the key clauses exactly as the index XSLTs do (comma + newline +
    * two-space separators). */
  def indexClause(d: Dialect, keys: Seq[Key]): String =
    keys.map {
      case PrimaryKey(f) => s"PRIMARY KEY (${q(d, f)})"
      case ForeignKey(f, t, ff) =>
        s"FOREIGN KEY (${q(d, f)}) REFERENCES ${q(d, t)} (${q(d, ff)})"
      case IndexKey(f) => s"INDEX ${q(d, f)} (${q(d, f)})"
    }.mkString(",\n  ")

  /** CREATE TABLE text for one table (single-primary-key convenience). */
  def createTable(table: String, schema: StructType, d: Dialect,
      opts: Options = Options(), primaryKey: Option[String] = None): String =
    createTableKeys(table, schema, d, opts, primaryKey.map(PrimaryKey).toSeq)

  /** CREATE TABLE with the full key grammar. */
  def createTableKeys(table: String, schema: StructType, d: Dialect,
      opts: Options, keys: Seq[Key]): String = {
    val sb = new StringBuilder
    if (opts.includeDrop)
      sb.append(s"DROP TABLE IF EXISTS ${q(d, table)};\n")
    sb.append(s"CREATE TABLE ${q(d, table)} (\n")

    val activeKeys = if (opts.includeKeys) keys else Nil
    val cols = schema.fields.map { f =>
      val nullability = if (f.nullable) " NULL DEFAULT NULL" else " NOT NULL"
      val comment = d match {
        case Postgres => "" // postgres comments go in COMMENT ON statements
        case _ => if (commentOf(f).nonEmpty) s" COMMENT '${commentOf(f)}'" else ""
      }
      s"  ${q(d, f.name)} ${columnType(d, f)}$nullability$comment"
    }
    sb.append(cols.mkString(",\n"))
    if (activeKeys.nonEmpty) sb.append(",\n  " + indexClause(d, activeKeys))
    sb.append("\n)")

    d match {
      case Postgres =>
        sb.append(";\n")
        if (opts.tableComment.nonEmpty)
          sb.append(s"""\nCOMMENT ON TABLE "$table" IS '${opts.tableComment}';\n""")
        for (f <- schema.fields if commentOf(f).nonEmpty)
          sb.append(s"""COMMENT ON COLUMN "$table"."${f.name}" IS '${commentOf(f)}';\n""")
      case MySql =>
        sb.append(s" ENGINE = ${engineOf(d, opts)} ")
        if (opts.tableComment.nonEmpty) sb.append(s"COMMENT='${opts.tableComment}'")
        sb.append("; \n")
      case ClickHouse =>
        sb.append(s" ENGINE = ${engineOf(d, opts)} ")
        if (opts.tableComment.nonEmpty) sb.append(s"COMMENT '${opts.tableComment}'")
        sb.append("; \n")
    }
    sb.append("\n")
    sb.toString
  }

  /** Full GAR schema dump: all 28 logical tables in output order. */
  def createAll(d: Dialect, opts: Options = Options()): String =
    SchemaRegistry.knownTables.map { case (table, _) =>
      createTable(table, SchemaRegistry.schemaOf(table), d, opts,
        Some(SchemaRegistry.primaryKey(table)))
    }.mkString

  /**
   * The `schema` command's output contract (command.py:50-60): if `outPath`
   * is an existing directory, one `{TABLE}.sql` file per table, each with the
   * copyright banner; otherwise a single file = banner + concatenated DDL.
   * Table schemas and comments derive from the XSDs under `schemaDir`,
   * parsed at run time (schema.py:63-71); `conf` reaches both the XSDs and
   * `outPath`. Returns the files written.
   */
  def writeSchema(outPath: String, d: Dialect, tables: Seq[String], opts: Options,
      schemaDir: String, conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    import org.apache.hadoop.fs.Path
    def ddlOf(table: String): String = {
      val defn = graft.sources.GarXml.definitionOf(schemaDir, table, conf)
      createTable(table, defn.schema, d, opts.copy(tableComment = defn.tableComment),
        Some(SchemaRegistry.primaryKey(table)))
    }
    val unknown = tables.filterNot(SchemaRegistry.knownTables.map(_._1).toSet)
    require(unknown.isEmpty,
      // a typo'd -t table must fail loudly, not silently drop from the dump
      // (the reference would crash on the missing XSD at discovery time)
      s"unknown table(s): ${unknown.mkString(", ")}")
    val ordered = SchemaRegistry.knownTables.map(_._1).filter(tables.contains)
    val outP = new Path(outPath)
    val fs = outP.getFileSystem(conf)
    def write(p: Path, body: String): String = {
      graft.FsText.writeText(fs, p, body)
      p.toString
    }
    if (fs.exists(outP) && fs.getFileStatus(outP).isDirectory)
      ordered.map(t => write(new Path(outP, s"$t.sql"), Dump.composeCopyright() + ddlOf(t)))
    else
      Seq(write(outP, Dump.composeCopyright() + ordered.map(ddlOf).mkString))
  }
}
