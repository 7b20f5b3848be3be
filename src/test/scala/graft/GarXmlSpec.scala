package graft

import graft.model.SchemaRegistry
import graft.sinks.Dump
import graft.sources.GarXml
import graft.synth.GarGen
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class GarXmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def writeFixtureTree(root: String): Unit = {
    // common table at root + region dirs, AS_{T}_2... naming (common.py:47-60)
    val ht = GarGen.rows("HOUSE_TYPES", "00", 7)
    Files.write(Paths.get(root, "AS_HOUSE_TYPES_20210101.xml"),
      GarXml.toXml(ht, SchemaRegistry.schemaOf("HOUSE_TYPES"), "HOUSETYPES", "HOUSETYPE")
        .getBytes(StandardCharsets.UTF_8))
    for (r <- Seq("01", "77")) {
      Files.createDirectories(Paths.get(root, r))
      val rows = GarGen.rows("ADDR_OBJ", r, 9)
      Files.write(Paths.get(root, r, s"AS_ADDR_OBJ_20210101.xml"),
        GarXml.toXml(rows, SchemaRegistry.schemaOf("ADDR_OBJ"), "ADDRESSOBJECTS", "OBJECT")
          .getBytes(StandardCharsets.UTF_8))
    }
    // a non-numeric dir that must NOT be discovered as a region
    Files.createDirectories(Paths.get(root, "extra"))
  }

  test("xml round trip: fixture rows -> XML -> streamed scan -> identical rows") {
    val root = Files.createTempDirectory("gar_xml").toString
    writeFixtureTree(root)

    assert(GarXml.discoverRegions(root, conf) == Seq("01", "77"))

    val common = GarXml.read(spark, root, "HOUSE_TYPES")
    val gotCommon = common.orderBy("ord").drop("region", "ord").collect().toSeq
    assert(gotCommon == GarGen.rows("HOUSE_TYPES", "00", 7))

    val regionDf = GarXml.read(spark, root, "ADDR_OBJ", Seq("01", "77"))
    assert(regionDf.count() == 18)
    val got01 = regionDf.where("region = '01'").orderBy("ord")
      .drop("region", "ord").collect().toSeq
    assert(got01 == GarGen.rows("ADDR_OBJ", "01", 9))
  }

  test("split ingest: chunked byte-range scan == whole-file StAX scan") {
    val root = Files.createTempDirectory("gar_split").toString
    writeFixtureTree(root)
    val whole = GarXml.read(spark, root, "ADDR_OBJ", Seq("01", "77"))
      .orderBy("region", "ord").collect().toSeq
    // tiny chunk size forces many splits with element-boundary resync; the
    // result must be identical rows AND identical ord (document order)
    for (chunk <- Seq(97L, 512L, 1999L)) {
      val split = GarXml.read(spark, root, "ADDR_OBJ", Seq("01", "77"), chunkBytes = chunk)
        .orderBy("region", "ord").collect().toSeq
      assert(split == whole, s"chunkBytes=$chunk diverged")
    }
    assert(whole.size == 18)
  }

  test("split ingest: ord reconstructs exact document order per file") {
    val root = Files.createTempDirectory("gar_ord").toString
    writeFixtureTree(root)
    val got = GarXml.read(spark, root, "ADDR_OBJ", Seq("77"), chunkBytes = 128)
      .orderBy("ord").drop("region", "ord").collect().toSeq
    assert(got == GarGen.rows("ADDR_OBJ", "77", 9))
  }

  test("xml scan preserves document order and handles escaped attribute values") {
    import scala.jdk.CollectionConverters._
    val schema = SchemaRegistry.schemaOf("HOUSE_TYPES")
    val tricky = Seq(org.apache.spark.sql.Row(
      1, "ИФНС \"ФЛ\"\\", "a\tb", "<&>", java.sql.Date.valueOf("2021-01-01"),
      java.sql.Date.valueOf("2021-01-01"), java.sql.Date.valueOf("2079-06-06"), true))
    val xml = GarXml.toXml(tricky, schema, "HOUSETYPES", "HOUSETYPE")
    val in = new java.io.ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8))
    val parsed = GarXmlStax.parseStream(in, schema, "HOUSETYPE").toSeq
    assert(parsed == tricky)
    // and through the dump formatter, escapes match reference behaviour:
    // ...NAME="ИФНС &quot;ФЛ&quot;\" -> "ИФНС \"ФЛ\"\\" (dump.py:121-123)
    val df = spark.createDataFrame(parsed.asJava, schema)
    val sql = Dump.formatSlice(df, "HOUSE_TYPES", Dump.mysql)
    assert(sql.contains("\"ИФНС \\\"ФЛ\\\"\\\\\""))
  }

  test("split scanner handles XML the renderer never emits: quote styles, spacing, newlines") {
    // hand-authored XML: single-quoted attributes, double quotes inside
    // single quotes, whitespace/newlines around '=', entities, an element
    // with children-style close — the scanner must agree with StAX on all
    val schema = SchemaRegistry.schemaOf("HOUSE_TYPES")
    val xml =
      "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n" +
        "<HOUSETYPES>\n" +
        "  <HOUSETYPE ID = '1' NAME='say \"hi\"' SHORTNAME = \"a&apos;b\"\n" +
        "       UPDATEDATE='2021-01-01' STARTDATE='2021-01-01' ENDDATE='2079-06-06' ISACTIVE='true' />\n" +
        "  <HOUSETYPE ID=\"2\" NAME=\"&#1057;&#1077;&#1083;&#1086; &amp; co\" UPDATEDATE=\"2021-01-02\"\n" +
        "       STARTDATE=\"2021-01-02\" ENDDATE=\"2079-06-06\" ISACTIVE=\"false\"></HOUSETYPE>\n" +
        "</HOUSETYPES>\n"
    val bytes = xml.getBytes(StandardCharsets.UTF_8)
    val viaStax = GarXmlStax.parseStream(
      new java.io.ByteArrayInputStream(bytes), schema, "HOUSETYPE").toSeq
    // write to a file and read through the chunked scanner at tiny chunks
    val root = Files.createTempDirectory("gar_nasty").toString
    Files.write(Paths.get(root, "AS_HOUSE_TYPES_2_nasty.xml"), bytes)
    val spark2 = spark
    for (chunk <- Seq(31L, 64L, 1 << 20)) {
      val viaScan = GarXml.read(spark2, root, "HOUSE_TYPES", chunkBytes = chunk)
        .orderBy("ord").drop("region", "ord").collect().toSeq
      assert(viaScan == viaStax, s"chunkBytes=$chunk diverged from StAX")
    }
    assert(viaStax.size == 2)
    assert(viaStax.head.getString(1) == "say \"hi\"")
    assert(viaStax.head.getString(2) == "a'b")
    assert(viaStax(1).getString(1) == "Село & co")
  }

  test("scanner skips comments / CDATA / DOCTYPE: no phantom rows from '<TAG' text inside them") {
    val schema = SchemaRegistry.schemaOf("HOUSE_TYPES")
    // fake elements hidden in a comment, a CDATA section (with the tricky
    // "]]]>" overlap), and a DOCTYPE; the two real rows must be the only ones
    val xml =
      "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n" +
        "<!DOCTYPE HOUSETYPES SYSTEM \"housetypes <HOUSETYPE fake>\">\n" +
        "<HOUSETYPES>\n" +
        "  <!-- <HOUSETYPE ID=\"99\" NAME=\"phantom\" UPDATEDATE=\"2021-01-01\" " +
        "STARTDATE=\"2021-01-01\" ENDDATE=\"2079-06-06\" ISACTIVE=\"true\"/> -->\n" +
        "  <HOUSETYPE ID=\"1\" NAME=\"real\" UPDATEDATE=\"2021-01-01\" " +
        "STARTDATE=\"2021-01-01\" ENDDATE=\"2079-06-06\" ISACTIVE=\"true\" />\n" +
        "  <DESCRIPTION><![CDATA[x]]<HOUSETYPE ID=\"98\" NAME=\"phantom2\"/>]]]></DESCRIPTION>\n" +
        "  <!----><HOUSETYPE ID=\"2\" NAME=\"real2\" UPDATEDATE=\"2021-01-02\" " +
        "STARTDATE=\"2021-01-02\" ENDDATE=\"2079-06-06\" ISACTIVE=\"false\"></HOUSETYPE>\n" +
        "</HOUSETYPES>\n"
    val bytes = xml.getBytes(StandardCharsets.UTF_8)
    val root = Files.createTempDirectory("gar_comments").toString
    Files.write(Paths.get(root, "AS_HOUSE_TYPES_2_c.xml"), bytes)
    // whole-file scan (chunk >= file) is fully comment/CDATA-safe
    val got = GarXml.read(spark, root, "HOUSE_TYPES", chunkBytes = 1 << 20)
      .orderBy("ord").collect()
    assert(got.length == 2, got.toSeq)
    assert(got.map(_.getAs[Int]("ID")).toSeq == Seq(1, 2))
    assert(got.map(_.getAs[String]("NAME")).toSeq == Seq("real", "real2"))
  }

  // ------------------------------------- split scanner vs StAX, byte level

  private val objSchema = SchemaRegistry.schemaOf("ADDR_OBJ")
  private val fullSchema = objSchema.add("region", StringType).add("ord", LongType)
  private val skimSchema = new StructType().add("region", StringType).add("ord", LongType)

  /** One `<OBJECT .../>` element of the differential document: varying
    * quote style, spacing around '=', attribute separators and order, close
    * form, entities, raw tab/CR/LF/CRLF, Cyrillic, unknown attributes (one a
    * prefix of a known name, one extending it) and an absent PREVID. With
    * `long` > 0, NAME (entities, CRLF) and TYPENAME (plain Cyrillic) hold
    * about `long` characters each. */
  private def objectXml(i: Int, long: Int): String = {
    val q = if (i % 3 == 1) "'" else "\""
    val eq = Seq("=", " = ", "\t=\n  ", "=")(i % 4)
    val sep = Seq(" ", "\n    ", "\t ")(i % 3)
    val name =
      if (long > 0) "Ёж &amp;\r\n" + "я" * long + "&#x41;"
      else i % 5 match {
        case 0 => "Москва &amp; обл. &#x41;&#10;Ёж"
        case 1 => "tab\there cr\rlf\ncrlf\r\nend"
        case 2 => "&lt;Село&gt; &quot;Ёлки&quot; &#1057;"
        case 3 => if (q == "'") "say \"hi\"" else "it's"
        case _ => "plain ascii"
      }
    val attrs = Seq(
      "ID" -> (1000 + i).toString, "OBJECTID" -> (7 * i).toString, "OBJECTGUID" -> s"guid-$i",
      "CHANGEID" -> "-3", "NAME" -> name, "TYPENAME" -> (if (long > 0) "т" * long else "ул"),
      "LEVEL" -> (i % 10).toString, "OPERTYPEID" -> "10", "NEXTID" -> "0",
      "UPDATEDATE" -> s"2021-01-0${1 + i % 9}", "STARTDATE" -> "1900-01-01",
      "ENDDATE" -> "2079-06-06", "ISACTUAL" -> Seq("1", "0", "true", "false")(i % 4),
      "ISACTIVE" -> "true", "NAM" -> "x &amp; y", "NAMES" -> "unknown", "EXTRA" -> "&#x42;") ++
      (if (i % 2 == 1) Seq("PREVID" -> i.toString) else Nil)
    val ordered = if (i % 2 == 0) attrs else attrs.reverse
    val close = Seq("/>", " />", "></OBJECT>")(i % 3)
    "<OBJECT" + ordered.map { case (k, v) => s"$sep$k$eq$q$v$q" }.mkString + close + "\n"
  }

  /** An ADDRESSOBJECTS document of `n` elements and the byte offset of
    * each. It holds an `<OBJECTLEVEL` decoy and, with `markup`, a comment and
    * a CDATA section that contain `<OBJECT`. Element `longAt` gets long
    * values (`objectXml`) and `pad` spaces before it. */
  private def objectsXml(n: Int, markup: Boolean, longAt: Int = -1, long: Int = 0,
      pad: Int = 0): (Array[Byte], Seq[Long]) = {
    val out = new java.io.ByteArrayOutputStream
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
    put("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<ADDRESSOBJECTS>\n")
    if (markup) put("  <!-- <OBJECT ID=\"-1\" NAME=\"phantom\"/> -->\n")
    put("  <OBJECTLEVEL LEVEL=\"1\" NAME=\"decoy\"/>\n")
    val ords = (0 until n).map { i =>
      put(if (i == longAt) " " * (pad + 2) else "  ")
      val at = out.size.toLong
      put(objectXml(i, if (i == longAt) long else 0))
      at
    }
    if (markup) put("  <DESC><![CDATA[ <OBJECT ID=\"-2\"/> ]]></DESC>\n")
    put("</ADDRESSOBJECTS>\n")
    (out.toByteArray, ords)
  }

  /** The StAX rows of `doc` with region "01" and the element offsets. */
  private def staxRows(doc: Array[Byte], ords: Seq[Long]): Seq[Row] =
    GarXmlStax.parseStream(new java.io.ByteArrayInputStream(doc), objSchema, "OBJECT").toSeq
      .zip(ords).map { case (r, ord) => Row.fromSeq(r.toSeq :+ "01" :+ ord) }

  /** The split scanner over `doc` cut into byte ranges at `cuts`. */
  private def splitScan(doc: Array[Byte], cuts: Seq[Int], required: StructType): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(required)
    (0 +: cuts :+ doc.length).sliding(2).toSeq.flatMap { case Seq(start, end) =>
      val in = new java.io.ByteArrayInputStream(doc, start, doc.length - start)
      GarXml.scanElements(in, start, end, "OBJECT", required, "01")
        .map(r => toRow(r).asInstanceOf[Row]).toSeq
    }
  }

  private def regionOrd(rows: Seq[Row]): Seq[Row] =
    rows.map(r => Row(r.get(r.length - 2), r.get(r.length - 1)))

  test("split scanner == StAX row for row and ord for ord: entities, raw whitespace, quotes, markup, refills") {
    // whole file, with the comment, CDATA and decoy, and one value longer
    // than the scanner's 64 KiB window
    val (doc, ords) = objectsXml(15, markup = true, longAt = 7, long = 100000)
    val want = staxRows(doc, ords)
    assert(want.size == 15 && doc.length > (1 << 17))
    assert(want(7).getString(4).length > 100000)
    assert(splitScan(doc, Nil, fullSchema) == want)
    assert(splitScan(doc, Nil, skimSchema) == regionOrd(want))

    // a long element shifted across the first refill boundary one byte at a
    // time: the boundary lands on every byte of it, from '<' to '>'
    val (small, smallOrds) = objectsXml(4, markup = true, longAt = 3, long = 300)
    val values = staxRows(small, smallOrds).map(r => Row.fromSeq(r.toSeq.dropRight(1)))
    val elemLen = small.length - smallOrds(3).toInt
    for (pad <- (1 << 16) - smallOrds(3).toInt - elemLen to (1 << 16) - smallOrds(3).toInt) {
      val (shifted, shiftedOrds) = objectsXml(4, markup = true, longAt = 3, long = 300, pad = pad)
      val want = values.zip(shiftedOrds).map { case (r, ord) => Row.fromSeq(r.toSeq :+ ord) }
      assert(splitScan(shifted, Nil, fullSchema) == want, s"pad $pad")
    }
  }

  test("split scanner == StAX at every chunk size of a small file; a (region, ord) read skims to the same ords") {
    val (doc, ords) = objectsXml(6, markup = false)
    val want = staxRows(doc, ords)
    assert(want.size == 6)
    for (chunk <- 1 to doc.length) {
      val cuts = chunk until doc.length by chunk
      assert(splitScan(doc, cuts, fullSchema) == want, s"chunkBytes=$chunk")
      assert(splitScan(doc, cuts, skimSchema) == regionOrd(want), s"chunkBytes=$chunk, skim")
    }
    // through the source: the pruned read pushes (region, ord) into the scan
    val root = Files.createTempDirectory("gar_skim").toString
    Files.createDirectories(Paths.get(root, "01"))
    Files.write(Paths.get(root, "01", "AS_ADDR_OBJ_2_diff.xml"), doc)
    val read = GarXml.read(spark, root, "ADDR_OBJ", Seq("01"), chunkBytes = 97)
    val pruned = read.select("region", "ord")
    assert(pruned.queryExecution.executedPlan.toString.contains("columns=region,ord)"))
    assert(pruned.orderBy("ord").collect().toSeq ==
      read.orderBy("ord").select("region", "ord").collect().toSeq)
    assert(read.orderBy("ord").collect().toSeq == want)
  }

  test("discovery errors: zero or multiple matches") {
    val root = Files.createTempDirectory("gar_glob").toString
    intercept[java.io.FileNotFoundException] {
      GarXml.discoverFile(root, "HOUSES", "xml", conf)
    }
    Files.write(Paths.get(root, "AS_HOUSES_20210101.xml"), "<x/>".getBytes)
    Files.write(Paths.get(root, "AS_HOUSES_20210202.XML"), "<x/>".getBytes)
    // ambiguity is a DISTINCT exception from not-found, so the V2 source's
    // registry fallback can't swallow it (only genuinely-missing falls back)
    intercept[IllegalStateException] {
      GarXml.discoverFile(root, "HOUSES", "xml", conf) // >1 match, case-insensitive ext
    }
  }

  test("full pipeline: XML ingest -> dump produces same bytes as direct fixture dump") {
    val root = Files.createTempDirectory("gar_e2e").toString
    writeFixtureTree(root)
    val viaXml = GarXml.read(spark, root, "ADDR_OBJ", Seq("01"))
      .orderBy("ord").drop("region", "ord")
    val direct = GarGen.df(spark, "ADDR_OBJ", "01", 9)
    val a = Dump.formatSlice(viaXml, "ADDR_OBJ", Dump.tsv)
    val b = Dump.formatSlice(direct, "ADDR_OBJ", Dump.tsv)
    assert(a == b && a.nonEmpty)
  }
}
