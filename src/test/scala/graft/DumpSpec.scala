package graft

import graft.model.SchemaRegistry
import graft.sinks.{Ddl, Dump, DumpJob}
import graft.synth.GarGen
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

/** Golden conformance for the dump formatter + DDL generator — the
  * reference's implicit contract is byte-exact SQL/CSV/TSV output
  * (SURVEY.md §5; README.rst documents LOAD DATA import as acceptance). */
class DumpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtureDf = {
    import scala.jdk.CollectionConverters._
    val schema = SchemaRegistry.schemaOf("HOUSE_TYPES")
    val rows = Seq(
      Row(1, "Дом \"А\"", "д.", null, Date.valueOf("2021-01-01"), Date.valueOf("2021-01-01"), Date.valueOf("2079-06-06"), true),
      Row(2, "Корпус\\", null, "desc", Date.valueOf("2021-01-02"), Date.valueOf("2021-01-02"), Date.valueOf("2079-06-06"), false),
      Row(3, "Стр,3", "стр.", "x'y", Date.valueOf("2021-01-03"), Date.valueOf("2021-01-03"), Date.valueOf("2079-06-06"), true))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** A dump input for `table`: GarGen slices of `n` rows per region with
    * `region` (null for a common table, one slice) and `ord` in generation
    * order. */
  private def dumpInput(table: String, regions: Seq[Option[String]], n: Int): DataFrame =
    regions.map { r =>
      GarGen.df(spark, table, r.getOrElse("00"), n)
        .withColumn("region", lit(r.orNull).cast("string"))
        .withColumn("ord", monotonically_increasing_id())
    }.reduce(_ unionByName _)

  /** Every entity's XSD, as `Gar.schema` reads them from a GAR tree. */
  private lazy val allXsds: String = graft.synth.GarFixture.writeAllXsds(
    java.nio.file.Files.createTempDirectory("schema_xsds").toString)

  private val fieldsHdr = "`ID`, `NAME`, `SHORTNAME`, `DESC`, `UPDATEDATE`, `STARTDATE`, `ENDDATE`, `ISACTIVE`"

  test("golden: mysql dump with batching (batch size 2)") {
    val got = Dump.formatSlice(fixtureDf, "HOUSE_TYPES", Dump.mysql, batchSize = 2)
    val expected =
      "\n/*!40000 ALTER TABLE `HOUSE_TYPES` DISABLE KEYS */;\n" +
        s"INSERT INTO `HOUSE_TYPES` ($fieldsHdr) VALUES \n" +
        "\t(\"1\", \"Дом \\\"А\\\"\", \"д.\", NULL, \"2021-01-01\", \"2021-01-01\", \"2079-06-06\", 1),\n" +
        "\t(\"2\", \"Корпус\\\\\", NULL, \"desc\", \"2021-01-02\", \"2021-01-02\", \"2079-06-06\", 0);\n" +
        s"INSERT INTO `HOUSE_TYPES` ($fieldsHdr) VALUES \n" +
        "\t(\"3\", \"Стр,3\", \"стр.\", \"x'y\", \"2021-01-03\", \"2021-01-03\", \"2079-06-06\", 1);\n" +
        "/*!40000 ALTER TABLE `HOUSE_TYPES` ENABLE KEYS */;\n"
    assert(got == expected)
  }

  test("golden: postgres dump (quote/bool/escape dialect)") {
    val got = Dump.formatSlice(fixtureDf, "HOUSE_TYPES", Dump.psql, batchSize = 500)
    val hdr = "\"ID\", \"NAME\", \"SHORTNAME\", \"DESC\", \"UPDATEDATE\", \"STARTDATE\", \"ENDDATE\", \"ISACTIVE\""
    val expected =
      s"INSERT INTO \"HOUSE_TYPES\" ($hdr) VALUES \n" +
        "\t('1', 'Дом \"А\"', 'д.', NULL, '2021-01-01', '2021-01-01', '2079-06-06', '1'),\n" +
        "\t('2', 'Корпус\\\\', NULL, 'desc', '2021-01-02', '2021-01-02', '2079-06-06', '0'),\n" +
        "\t('3', 'Стр,3', 'стр.', 'x\\'y', '2021-01-03', '2021-01-03', '2079-06-06', '1');\n"
    assert(got == expected)
  }

  test("golden: csv dump") {
    val got = Dump.formatSlice(fixtureDf, "HOUSE_TYPES", Dump.csv)
    val expected =
      "\"1\",\"Дом \\\"А\\\"\",\"д.\",\\N,\"2021-01-01\",\"2021-01-01\",\"2079-06-06\",1\n" +
        "\"2\",\"Корпус\\\\\",\\N,\"desc\",\"2021-01-02\",\"2021-01-02\",\"2079-06-06\",0\n" +
        "\"3\",\"Стр,3\",\"стр.\",\"x'y\",\"2021-01-03\",\"2021-01-03\",\"2079-06-06\",1\n"
    assert(got == expected)
  }

  test("golden: tsv dump (control-char escapes, no quoting)") {
    import scala.jdk.CollectionConverters._
    val schema = SchemaRegistry.schemaOf("HOUSE_TYPES")
    val rows = Seq(
      Row(1, "Tab\there", "a\nb", "c\rd", Date.valueOf("2021-01-01"), Date.valueOf("2021-01-01"), Date.valueOf("2079-06-06"), true))
    val df = spark.createDataFrame(rows.asJava, schema)
    val got = Dump.formatSlice(df, "HOUSE_TYPES", Dump.tsv)
    val want = "1\tTab\\there\ta\\nb\tc\\rd\t2021-01-01\t2021-01-01\t2079-06-06\t1\n"
    assert(got == want)
  }

  test("empty slice: wrappers only, no trailing line ending") {
    val empty = fixtureDf.where("ID < 0")
    assert(Dump.formatSlice(empty, "HOUSE_TYPES", Dump.mysql) ==
      "\n/*!40000 ALTER TABLE `HOUSE_TYPES` DISABLE KEYS */;\n" +
        "/*!40000 ALTER TABLE `HOUSE_TYPES` ENABLE KEYS */;\n")
    assert(Dump.formatSlice(empty, "HOUSE_TYPES", Dump.csv) == "")
  }

  test("ddl golden: OBJECT_LEVELS mysql") {
    val got = Ddl.createTable("OBJECT_LEVELS", SchemaRegistry.schemaOf("OBJECT_LEVELS"),
      Ddl.MySql, Ddl.Options(), Some("LEVEL"))
    assert(got.startsWith("DROP TABLE IF EXISTS `OBJECT_LEVELS`;\nCREATE TABLE `OBJECT_LEVELS` (\n"))
    assert(got.contains("  `LEVEL` INT(5) NOT NULL COMMENT 'Уникальный идентификатор уровня. Ключевое поле',\n"))
    assert(got.contains("  `NAME` VARCHAR(250) NOT NULL COMMENT 'Наименование',\n"))
    assert(got.contains("  `SHORTNAME` VARCHAR(50) NULL DEFAULT NULL COMMENT 'Краткое наименование',\n"))
    assert(got.contains("  `ISACTIVE` INT(1) NOT NULL COMMENT 'Признак действующего уровня',\n"))
    assert(got.contains(",\n  PRIMARY KEY (`LEVEL`)\n) ENGINE = MyISAM ; \n"))
  }

  test("ddl golden: postgres emits COMMENT ON and type map") {
    val got = Ddl.createTable("ADDR_OBJ", SchemaRegistry.schemaOf("ADDR_OBJ"),
      Ddl.Postgres, Ddl.Options(), Some("ID"))
    assert(got.contains("""CREATE TABLE "ADDR_OBJ" ("""))
    assert(got.contains("""  "ID" bigint NOT NULL,"""))
    assert(got.contains("""  "TYPENAME" varchar(50) NOT NULL,"""))
    assert(got.contains("""  "ISACTUAL" boolean NOT NULL,"""))
    assert(got.contains("""  PRIMARY KEY ("ID")"""))
    assert(got.contains("""COMMENT ON COLUMN "ADDR_OBJ"."NAME" IS 'Наименование';"""))
    assert(!got.contains("ENGINE"))
  }

  test("ddl golden: clickhouse types and engine") {
    val got = Ddl.createTable("CHANGE_HISTORY", SchemaRegistry.schemaOf("CHANGE_HISTORY"),
      Ddl.ClickHouse, Ddl.Options(tableEngine = "MergeTree"), Some("CHANGEID"))
    assert(got.contains("`CHANGEID` Int64 NOT NULL"))
    assert(got.contains("`OPERTYPEID` Int32 NOT NULL"))
    assert(got.contains("`CHANGEDATE` Date NOT NULL"))
    assert(got.contains("`ADROBJECTID` String NOT NULL"))
    assert(got.contains(") ENGINE = MergeTree ; \n"))
  }

  test("ddl key grammar: primary-key / foreign-key / key render per index.xsl in 3 dialects") {
    val keys = Seq(Ddl.PrimaryKey("ID"),
      Ddl.ForeignKey("TYPEID", "PARAM_TYPES", "ID"), Ddl.IndexKey("OBJECTID"))
    val my = Ddl.createTableKeys("PARAM", SchemaRegistry.schemaOf("ADDR_OBJ_PARAMS"),
      Ddl.MySql, Ddl.Options(), keys)
    assert(my.contains("  PRIMARY KEY (`ID`),\n  FOREIGN KEY (`TYPEID`) REFERENCES `PARAM_TYPES` (`ID`),\n  INDEX `OBJECTID` (`OBJECTID`)\n)"))
    val pg = Ddl.createTableKeys("PARAM", SchemaRegistry.schemaOf("ADDR_OBJ_PARAMS"),
      Ddl.Postgres, Ddl.Options(), keys)
    assert(pg.contains("""FOREIGN KEY ("TYPEID") REFERENCES "PARAM_TYPES" ("ID")"""))
    val ch = Ddl.createTableKeys("PARAM", SchemaRegistry.schemaOf("ADDR_OBJ_PARAMS"),
      Ddl.ClickHouse, Ddl.Options(), keys)
    assert(ch.contains("INDEX `OBJECTID` (`OBJECTID`)"))
    // --no-keys analog: includeKeys=false drops all clauses
    val none = Ddl.createTableKeys("PARAM", SchemaRegistry.schemaOf("ADDR_OBJ_PARAMS"),
      Ddl.MySql, Ddl.Options(includeKeys = false), keys)
    assert(!none.contains("PRIMARY KEY") && !none.contains("FOREIGN KEY"))
  }

  test("ddl: all 28 logical tables generate with a primary key in 3 dialects") {
    for (d <- Seq(Ddl.MySql, Ddl.Postgres, Ddl.ClickHouse)) {
      val all = Ddl.createAll(d)
      for ((t, _) <- SchemaRegistry.knownTables)
        assert(all.contains(s"CREATE TABLE ") && all.contains(t), s"$t missing in ${d.name}")
      assert(all.split("PRIMARY KEY").length == 29, s"expected 28 PKs in ${d.name}")
    }
  }

  test("schema command modes: dir -> file per table with copyright; file -> single concat") {
    // dir mode (command.py:50-55)
    val dir = java.nio.file.Files.createTempDirectory("schema_dir").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Ddl.writeSchema(dir, Ddl.MySql, Seq("HOUSE_TYPES", "OBJECT_LEVELS"),
      Ddl.Options(), allXsds, conf)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet ==
      Set("HOUSE_TYPES.sql", "OBJECT_LEVELS.sql"))
    val one = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "HOUSE_TYPES.sql")), "UTF-8")
    assert(one.startsWith("-- ---") && one.contains("CREATE TABLE `HOUSE_TYPES`"))
    assert(!one.contains("OBJECT_LEVELS"))

    // file mode (command.py:56-60): one banner, all tables concatenated
    val f = java.nio.file.Files.createTempDirectory("schema_file").toString + "/all.sql"
    Ddl.writeSchema(f, Ddl.MySql, Seq("HOUSE_TYPES", "OBJECT_LEVELS"), Ddl.Options(),
      allXsds, conf)
    val all = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    assert(all.startsWith("-- ---"))
    assert(all.contains("CREATE TABLE `HOUSE_TYPES`") && all.contains("CREATE TABLE `OBJECT_LEVELS`"))
    assert("-- generated at".r.findAllIn(all).size == 1)
  }

  test("schema command derives DDL from runtime-parsed XSDs when a schema dir is given") {
    val fix = graft.synth.GarFixture.write(
      java.nio.file.Files.createTempDirectory("schema_xsd").toString)
    val f = java.nio.file.Files.createTempDirectory("schema_out").toString + "/ht.sql"
    Ddl.writeSchema(f, Ddl.MySql, Seq("HOUSE_TYPES"), Ddl.Options(), fix,
      spark.sparkContext.hadoopConfiguration)
    val got = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    // XSD-derived output equals registry-derived output except the table
    // comment, which only the XSD carries (xs:annotation on the collection)
    assert(got.contains("CREATE TABLE `HOUSE_TYPES`"))
    assert(got.contains("`NAME` VARCHAR(250) NOT NULL COMMENT 'Наименование'"))
    assert(got.contains("COMMENT='Fixture set for HOUSE_TYPES'"))
  }

  test("dump job: region_tree mode writes the source-mirroring layout") {
    val out = java.nio.file.Files.createTempDirectory("dump_tree").toString
    val cfg = DumpJob.Config(regions = Seq("01", "77"), dialect = Dump.mysql,
      mode = DumpJob.RegionTree, batchSize = 2)
    val files = DumpJob.write(spark, Seq(
      "HOUSE_TYPES" -> dumpInput("HOUSE_TYPES", Seq(None), 5),
      "ADDR_OBJ" -> dumpInput("ADDR_OBJ", Seq(Some("01"), Some("77")), 5)), out, cfg)
    assert(files == Seq(
      s"$out/HOUSE_TYPES.sql", s"$out/01/ADDR_OBJ.sql", s"$out/77/ADDR_OBJ.sql"))
    val body = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/01/ADDR_OBJ.sql")), "UTF-8")
    assert(body.contains("INSERT INTO `ADDR_OBJ`"))
    // mysql carries meta (csv/tsv alone do not): copyright + header, the
    // region's separator, the slice, footer (output.py:154-189); the slice is
    // region 01's rows alone, in ord order -> deterministic bytes across runs
    val slice = Dump.formatSlice(GarGen.df(spark, "ADDR_OBJ", "01", 5), "ADDR_OBJ",
      Dump.mysql, batchSize = 2)
    assert(body.startsWith("-- ---") && body.contains(Dump.mysql.header))
    assert(body.endsWith("\n-- Region: `01`, Table: `ADDR_OBJ`\n" + slice + "\n" + Dump.mysql.footer))
  }

  test("dump job: direct mode concatenates with meta headers and separators") {
    val out = java.nio.file.Files.createTempDirectory("dump_direct").toString + "/all.sql"
    val cfg = DumpJob.Config(regions = Seq("01"), dialect = Dump.mysqlWith("utf8mb4"),
      mode = DumpJob.Direct, batchSize = 500)
    DumpJob.write(spark, Seq(
      "HOUSE_TYPES" -> dumpInput("HOUSE_TYPES", Seq(None), 2),
      "ADDR_OBJ" -> dumpInput("ADDR_OBJ", Seq(Some("01")), 2)), out, cfg)
    val body = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
    // "\n" precedes every separator and the footer (output.py:59,68,72)
    assert(body.contains("\n\n-- Table: `HOUSE_TYPES`\n"))
    assert(body.contains("\n-- Region: `01`, Table: `ADDR_OBJ`\n"))
    assert(body.startsWith("-- ---"))
    assert(body.contains("/*!40101 SET NAMES utf8mb4 */;\n"))
    assert(body.contains(";\n\n/*!40101 SET SQL_MODE=IFNULL(@OLD_SQL_MODE, '') */;\n"))
    assert(body.endsWith("/*!40101 SET CHARACTER_SET_CLIENT=@OLD_CHARACTER_SET_CLIENT */;\n"))
    val idxCommon = body.indexOf("-- Table: `HOUSE_TYPES`")
    val idxRegion = body.indexOf("-- Region: `01`")
    assert(idxCommon < idxRegion) // ORD-1: common tables first
  }
}
