package graft

import graft.model.{DefinitionException, SchemaRegistry, XsdSchema}
import graft.sources.GarXml
import graft.synth.GarFixture
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SRC-2 for real: schemas/entity tags derive from the XSD at run time
  * (the reference's Definition, source/xml.py:82-122), not from code. */
class XsdSchemaSpec extends AnyFunSuite {

  private def parseString(xsd: String): XsdSchema.Definition =
    XsdSchema.parse(new java.io.ByteArrayInputStream(xsd.getBytes("UTF-8")))

  test("every entity XSD round-trips: render -> parse == registry schema + tags") {
    for (entity <- SchemaRegistry.entities.keys.toSeq.sorted) {
      val defn = parseString(XsdSchema.render(entity))
      assert(defn.collectionTag == XsdSchema.collectionTagOf(entity), s"$entity collection tag")
      assert(defn.entityTag == XsdSchema.entityTagOf(entity), s"$entity entity tag")
      val want = SchemaRegistry.entities(entity)
      assert(defn.fields.map(_.name) == want.map(_.name), s"$entity field order")
      assert(defn.fields.map(_.dataType) == want.map(_.dataType), s"$entity types")
      assert(defn.fields.map(_.nullable) == want.map(_.nullable), s"$entity nullability")
      // length + comment metadata survive the round trip
      def meta(fs: Seq[org.apache.spark.sql.types.StructField]) = fs.map { f =>
        (if (f.metadata.contains("maxLength")) f.metadata.getLong("maxLength") else 0L,
          if (f.metadata.contains("comment")) f.metadata.getString("comment") else "")
      }
      assert(meta(defn.fields) == meta(want), s"$entity metadata")
    }
  }

  test("entity tag resolution order: @name first, then @ref; DefinitionError if absent") {
    val withRef =
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="ITEMS">
        |    <xs:complexType><xs:sequence>
        |      <xs:element ref="ITEM" maxOccurs="unbounded"/>
        |    </xs:sequence></xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    assert(parseString(withRef).entityTag == "ITEM")

    val tagless =
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="ITEMS">
        |    <xs:complexType><xs:sequence/></xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    intercept[DefinitionException] { parseString(tagless) }
  }

  test("type map follows the reference's DDL grammar (mysql.schema.xsl:21-62)") {
    val xsd =
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="THINGS">
        |    <xs:complexType><xs:sequence>
        |      <xs:element name="THING" maxOccurs="unbounded">
        |        <xs:complexType>
        |          <xs:attribute name="A" use="required">
        |            <xs:simpleType><xs:restriction base="xs:long"><xs:totalDigits value="19"/></xs:restriction></xs:simpleType>
        |          </xs:attribute>
        |          <xs:attribute name="B">
        |            <xs:simpleType><xs:restriction base="xs:integer"><xs:totalDigits value="5"/></xs:restriction></xs:simpleType>
        |          </xs:attribute>
        |          <xs:attribute name="C">
        |            <xs:simpleType><xs:restriction base="xs:string"><xs:length value="36"/></xs:restriction></xs:simpleType>
        |          </xs:attribute>
        |          <xs:attribute name="D" type="xs:boolean" use="required"/>
        |          <xs:attribute name="E">
        |            <xs:simpleType><xs:restriction base="xs:date"/></xs:simpleType>
        |          </xs:attribute>
        |          <xs:attribute name="F" type="xs:unknownthing"/>
        |        </xs:complexType>
        |      </xs:element>
        |    </xs:sequence></xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    import org.apache.spark.sql.types._
    val d = parseString(xsd)
    assert(d.fields.map(f => (f.name, f.dataType, f.nullable)) == Seq(
      ("A", LongType, false), ("B", ShortType, true), ("C", StringType, true),
      ("D", BooleanType, false), ("E", DateType, true), ("F", StringType, true)))
    assert(d.fields(2).metadata.getLong("maxLength") == 36L) // xs:length facet
    assert(!d.fields(5).metadata.contains("maxLength")) // unknown type -> plain string
      // (the VARCHAR(128) fallback is a DDL-time rule, mysql.schema.xsl:61)
  }

  test("a GAR schema update flows through WITHOUT a code change (reference behavior)") {
    // simulate the tax service shipping a new XSD revision: HOUSE_TYPES grows
    // a NEWFIELD attribute. The engine must pick it up at read time — schema,
    // projection AND dump — exactly like the reference re-parses XSDs per run
    // (dump.py:60-61). No registry edit, no code change.
    val spark = TestSpark.spark
    val root = Files.createTempDirectory("xsd_update").toString
    val xsd = XsdSchema.render("HOUSE_TYPES").replace(
      "<xs:attribute name=\"ID\"",
      """<xs:attribute name="NEWFIELD" type="xs:string">
        |            </xs:attribute>
        |            <xs:attribute name="ID"""".stripMargin)
    Files.write(java.nio.file.Paths.get(root, "AS_HOUSE_TYPES_2_fixture.xsd"),
      xsd.getBytes("UTF-8"))
    val defn = parseString(xsd)
    assert(defn.fieldNames.head == "NEWFIELD")

    // data carrying the new attribute round-trips through the split scanner
    val xml =
      """<?xml version="1.0" encoding="utf-8"?>
        |<HOUSETYPES>
        |  <HOUSETYPE NEWFIELD="nv" ID="1" NAME="n" UPDATEDATE="2021-01-01" STARTDATE="2021-01-01" ENDDATE="2079-06-06" ISACTIVE="true" />
        |</HOUSETYPES>
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(root, "AS_HOUSE_TYPES_2_fixture.xml"),
      xml.getBytes("UTF-8"))
    val df = graft.sources.GarXml.read(spark, root, "HOUSE_TYPES")
    assert(df.schema.fieldNames.head == "NEWFIELD")
    val row = df.orderBy("ord").collect()(0)
    assert(row.getString(0) == "nv")
    // and the dump emits the new column in XSD order, reference semantics
    val slice = df.drop("region", "ord")
    val out = graft.sinks.Dump.formatSlice(slice, "HOUSE_TYPES", graft.sinks.Dump.csv)
    assert(out.startsWith("\"nv\",\"1\",\"n\""))
  }

  test("GarXml.read derives schema + entity tag from the XSD (not the registry)") {
    val spark = TestSpark.spark
    val root = Files.createTempDirectory("xsd_read").toString
    GarFixture.write(root)
    // definitionOf resolves the XSD via the entity glob (AS_PARAM_2*.xsd for
    // HOUSES_PARAMS — the many-to-one logical->entity mapping, core.py:46-65)
    val defn = GarXml.definitionOf(root, "HOUSES_PARAMS",
      spark.sparkContext.hadoopConfiguration)
    assert(defn.entityTag == "PARAM" && defn.collectionTag == "PARAMS")
    val df = GarXml.read(spark, root, "HOUSES_PARAMS", Seq("01"))
    assert(df.schema.fieldNames.toSeq ==
      SchemaRegistry.schemaOf("HOUSES_PARAMS").fieldNames.toSeq ++ Seq("region", "ord"))
    assert(df.count() == 4)
  }
}
