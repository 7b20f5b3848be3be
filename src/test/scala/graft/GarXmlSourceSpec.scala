package graft

import graft.sources.{GarXml, GarXmlReaderFactory}
import graft.synth.GarFixture
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The DataSource V2 connector (`spark.read.format("gar-xml")`): same rows
  * as GarXml.read, splittable partitions, column pruning into the reader. */
class GarXmlSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fix = GarFixture.write(
    Files.createTempDirectory("garv2").toString)

  test("v2 source == GarXml.read, rows and schema, including split chunks") {
    val v2 = spark.read.format("gar-xml")
      .option("table", "ADDR_OBJ")
      .option("chunkBytes", "384")
      .load(fix)
    val direct = GarXml.read(spark, fix, "ADDR_OBJ", chunkBytes = 384)
    assert(v2.schema == direct.schema)
    assert(v2.orderBy("region", "ord").collect().toSeq ==
      direct.orderBy("region", "ord").collect().toSeq)
    assert(v2.count() == 11) // 5 + 6 rows across regions 01/77
  }

  test("v2 source: region option prunes files; common tables read from the root") {
    val one = spark.read.format("gar-xml")
      .option("table", "ADDR_OBJ").option("regions", "77").load(fix)
    assert(one.select("region").distinct().collect().map(_.getString(0)).toSeq == Seq("77"))
    val common = spark.read.format("gar-xml")
      .option("table", "HOUSE_TYPES").load(fix)
    assert(common.count() == 3)
    assert(common.select("region").distinct().collect().map(_.getString(0)).toSeq == Seq(null))
  }

  test("v2 source: column pruning reaches the reader (plan shows only requested columns)") {
    val df = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .select("NAME", "ord")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=NAME,ord") || plan.contains("columns=ord,NAME"), plan)
    val got = df.orderBy("ord").collect().map(_.getString(0)).toSeq
    val want = GarXml.read(spark, fix, "ADDR_OBJ").orderBy("region", "ord")
      .select("NAME").collect().map(_.getString(0)).toSeq
    assert(got.sorted == want.sorted)
  }

  test("v2 source: region FILTER pushes down to file pruning (partition-pruning analog)") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .where(col("region") === "77")
    val plan = df.queryExecution.executedPlan.toString
    // the scan itself lists only region 77's file — visible in its description
    assert(plan.contains("regions=77"), plan)
    assert(df.count() == 6)
    // IN-list shape too
    val df2 = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .where(col("region").isin("01", "77"))
    assert(df2.count() == 11)
  }

  test("v2 source: Or-shape region predicate prunes to exactly those files") {
    import org.apache.spark.sql.functions.col
    // Catalyst plans `r === a || r === b` as Or(EqualTo, EqualTo), not In —
    // the pushdown must fold Or-chains into the file-pruning set
    val df = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .where(col("region") === "01" || col("region") === "77")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("regions=01|77"), plan)
    assert(df.count() == 11)
    // mixed Or over EqualTo and In folds too
    val df2 = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .where(col("region") === "01" || col("region").isin("77"))
    assert(df2.queryExecution.executedPlan.toString.contains("regions=01|77"))
    assert(df2.count() == 11)
    // an Or that mixes region with another column must NOT prune
    val df3 = spark.read.format("gar-xml").option("table", "ADDR_OBJ").load(fix)
      .where(col("region") === "01" || col("NAME").isNotNull)
    assert(!df3.queryExecution.executedPlan.toString.contains("regions="),
      df3.queryExecution.executedPlan.toString)
    assert(df3.count() == 11)
  }

  test("every task's reader factory holds a broadcast handle, not the session's Hadoop conf") {
    import org.apache.spark.serializer.JavaSerializer
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def factory(): GarXmlReaderFactory = {
      val plan = GarXml.read(spark, fix, "ADDR_OBJ").select("region", "ord")
        .queryExecution.sparkPlan
      plan.collectFirst { case s: BatchScanExec => s }.get
        .batch.createReaderFactory().asInstanceOf[GarXmlReaderFactory]
    }
    // the conf alone is ~110 KB Java-serialized, and each task carries the factory
    val bytes = new JavaSerializer(spark.sparkContext.getConf).newInstance()
      .serialize(factory()).remaining()
    assert(bytes < 16 * 1024, s"reader factory is $bytes B serialized")

    // one broadcast per scan, read from the session at each scan: a setting
    // made between two reads reaches the second read's tasks
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "graft.spec.readerFactoryProbe"
    try {
      hc.set(key, "first")
      val first = factory()
      hc.set(key, "second")
      val second = factory()
      assert(first.conf.value.value.get(key) == "first")
      assert(second.conf.value.value.get(key) == "second")
    } finally hc.unset(key)
  }

  test("XSD discovery, planning and the tasks all read through the session's Hadoop conf") {
    // a file system scheme that only the session's conf knows
    val hc = spark.sparkContext.hadoopConfiguration
    val key = s"fs.${SessionOnlyFs.Scheme}.impl"
    try {
      hc.set(key, classOf[SessionOnlyFs].getName)
      val df = GarXml.read(spark, s"${SessionOnlyFs.Scheme}://$fix", "HOUSES_PARAMS")
      assert(df.schema.fieldNames.toSeq ==
        GarXml.read(spark, fix, "HOUSES_PARAMS").schema.fieldNames.toSeq)
      assert(df.count() == GarXml.read(spark, fix, "HOUSES_PARAMS").count())
    } finally hc.unset(key)
  }

  test("lexicalBooleans: dump path reproduces reference bytes for xs:boolean '1'/'0'") {
    // the reference bool-encodes ONLY the literal strings "true"/"false"
    // (xml.py:29-32); '1' passes through as a plain quoted string. The typed
    // read normalises '1' -> true; the dump path reads the raw lexical value.
    val root = Files.createTempDirectory("gar_lexbool").toString
    val xml =
      "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<HOUSETYPES>\n" +
        "  <HOUSETYPE ID=\"1\" NAME=\"a\" UPDATEDATE=\"2021-01-01\" " +
        "STARTDATE=\"2021-01-01\" ENDDATE=\"2079-06-06\" ISACTIVE=\"1\" />\n" +
        "  <HOUSETYPE ID=\"2\" NAME=\"b\" UPDATEDATE=\"2021-01-01\" " +
        "STARTDATE=\"2021-01-01\" ENDDATE=\"2079-06-06\" ISACTIVE=\"true\" />\n" +
        "</HOUSETYPES>\n"
    Files.write(java.nio.file.Paths.get(root, "AS_HOUSE_TYPES_20210101.xml"),
      xml.getBytes("UTF-8"))

    // typed read: both lexical forms land as boolean true
    val typed = GarXml.read(spark, root, "HOUSE_TYPES").orderBy("ord")
      .select("ISACTIVE").collect().map(_.getBoolean(0)).toSeq
    assert(typed == Seq(true, true))

    // lexical read: raw strings survive for the dump formatter
    val raw = GarXml.read(spark, root, "HOUSE_TYPES", lexicalBooleans = true)
    assert(raw.schema("ISACTIVE").dataType == org.apache.spark.sql.types.StringType)
    import org.apache.spark.sql.functions.col
    val dataCols = raw.schema.fieldNames.filterNot(n => n == "region" || n == "ord")
    val slice = raw.orderBy("ord").select(dataCols.map(col): _*)
    val sql = graft.sinks.Dump.formatSlice(slice, "HOUSE_TYPES", graft.sinks.Dump.mysql)
    // '1' emits quoted like any string; 'true' emits the dialect boolRepr (bare 1)
    assert(sql.contains("\"1\""), sql)   // reference: value.translate + quotes
    assert(sql.contains(",1)") || sql.contains(", 1)") || sql.contains(",1,"), sql)
  }

  test("v2 source feeds the dump pipeline to reference-identical bytes") {
    // the v2 scan slots straight into the parity provider shape
    val df = spark.read.format("gar-xml")
      .option("table", "HOUSES_PARAMS").option("regions", "01").load(fix)
    import org.apache.spark.sql.functions.col
    val dataCols = df.schema.fieldNames.filterNot(n => n == "region" || n == "ord")
    val slice = df.orderBy("ord").select(dataCols.map(col): _*)
    val got = graft.sinks.Dump.formatSlice(slice, "HOUSES_PARAMS", graft.sinks.Dump.tsv)
    val gold = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/ref_goldens/tsv_region_tree/01/HOUSES_PARAMS.tsv")), "UTF-8")
    assert(got == gold)
  }

  test("isoToEpochDay: fast path == LocalDate; corrupt values raise, never arithmetic garbage") {
    def isoToEpochDay(s: String): Int = {
      val b = s.getBytes("UTF-8")
      graft.sources.GarXmlReaderFactory.isoToEpochDay(b, 0, b.length)
    }
    for (s <- Seq("1970-01-01", "2021-07-23", "1899-12-31", "2400-02-29", "0001-01-01"))
      assert(isoToEpochDay(s) == java.time.LocalDate.parse(s).toEpochDay, s)
    // corrupt-but-shaped values must raise via the LocalDate fallback:
    // non-digit in a digit slot, month/day out of range, sentinel zeros
    for (bad <- Seq("2021-0a-01", "2021-13-01", "2021-00-10", "2021-01-00",
        "2021-01-32", "0000-00-00", "2021/01/01x",
        "2021-04-31", "2021-02-29", "2100-02-29", "2020-02-30"))
      assertThrows[java.time.format.DateTimeParseException](isoToEpochDay(bad))
  }
}

/** The local file system under a scheme of its own, which a Hadoop conf
  * knows only once `fs.sessiononly.impl` names this class. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = SessionOnlyFs.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionOnlyFs.Scheme}:///")
}

object SessionOnlyFs {
  val Scheme = "sessiononly"
}
