package graft.model

import org.apache.spark.sql.types._
import org.w3c.dom.{Document, Element}
import javax.xml.parsers.DocumentBuilderFactory

/** Raised when an XSD has no entity (row) tag — the engine analog of the
  * reference's DefinitionError (/root/reference/ru_address/errors.py:9-10,
  * raised at source/xml.py:116). */
class DefinitionException(msg: String) extends RuntimeException(msg)

/**
 * Runtime XSD parsing (SURVEY.md SRC-2 — for real this time): derives every
 * table schema, entity tag and collection tag from the shipped XSD files at
 * run time, exactly like the reference's `Definition`
 * (/root/reference/ru_address/source/xml.py:82-122):
 *
 *  - ordered field list  = all `xs:attribute` elements in document order
 *    (xml.py:91-99)
 *  - collection tag      = first `xs:schema/xs:element[@name]` (xml.py:101-104)
 *  - entity (row) tag    = first `xs:sequence/xs:element[@name]`, else
 *    `[@ref]`, else DefinitionError (xml.py:106-116)
 *
 * Types/nullability/comments follow the grammar the reference's DDL templates
 * read (mysql.schema.xsl:21-103): restriction base + totalDigits/maxLength/
 * length, `@use='required'`, `xs:annotation/xs:documentation`.
 *
 * The inverse direction (`render`) emits a GAR-shaped fixture XSD from a
 * registry schema, so tests can feed the *same* XSD bytes to this parser and
 * to the runnable reference CLI.
 */
object XsdSchema {

  val XsNs = "http://www.w3.org/2001/XMLSchema"

  /** Parsed definition: the engine analog of the reference's Definition. */
  case class Definition(
      collectionTag: String,
      entityTag: String,
      fields: Seq[StructField],
      tableComment: String) {
    def schema: StructType = StructType(fields)
    def fieldNames: Seq[String] = fields.map(_.name)
  }

  private def children(e: Element, local: String): Seq[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).map(nl.item).collect {
      case el: Element if el.getLocalName == local && el.getNamespaceURI == XsNs => el
    }
  }

  private def descendants(e: Element, local: String): Seq[Element] = {
    val nl = e.getElementsByTagNameNS(XsNs, local)
    (0 until nl.getLength).map(i => nl.item(i).asInstanceOf[Element])
  }

  private def attr(e: Element, name: String): Option[String] = {
    val v = e.getAttribute(name)
    if (v == null || v.isEmpty) None else Some(v)
  }

  private def documentationOf(e: Element): String =
    children(e, "annotation").flatMap(children(_, "documentation"))
      .headOption.map(_.getTextContent).getOrElse("")

  /** XSD attribute node -> Spark field, per the type map in SURVEY.md §1.2
    * (derived from mysql.schema.xsl:21-62 / postgres.schema.xsl:20-63). */
  private def fieldOf(a: Element): StructField = {
    val name = attr(a, "name").getOrElse(
      throw new DefinitionException("xs:attribute without @name"))
    val required = attr(a, "use").contains("required")
    val comment = documentationOf(a)
    val restriction = children(a, "simpleType").flatMap(children(_, "restriction")).headOption

    var maxLen = 0
    val dt: DataType = restriction match {
      case Some(r) =>
        val base = attr(r, "base").getOrElse("")
        base match {
          case "xs:integer" | "xs:int" | "xs:long" =>
            val digits = children(r, "totalDigits").headOption
              .flatMap(attr(_, "value")).map(_.toInt).getOrElse(11)
            // DELIBERATE reference parity, not a safe-bounds choice: the
            // reference's own XSLTs declare totalDigits=5 -> smallint and
            // =10 -> integer (postgres.schema.xsl:23-28), so a value like
            // 40000 in a 5-digit field would fail ITS database load too;
            // our read fails the same data at the same boundary instead of
            // silently widening past the declared DDL contract
            if (digits <= 5) ShortType
            else if (digits <= 10) IntegerType
            else LongType
          case "xs:byte" => ByteType
          case "xs:string" =>
            maxLen = children(r, "maxLength").headOption.orElse(children(r, "length").headOption)
              .flatMap(attr(_, "value")).map(_.toInt).getOrElse(128)
            StringType
          case "xs:date" => DateType
          case "xs:boolean" => BooleanType
          // unknown base -> string; the VARCHAR(128) fallback is applied at
          // DDL time (mysql.schema.xsl:61), not in the parsed schema
          case _ => StringType
        }
      case None =>
        attr(a, "type").getOrElse("") match {
          case "xs:date" => DateType
          case "xs:boolean" => BooleanType
          case "xs:integer" | "xs:int" => IntegerType
          case "xs:long" => LongType
          case _ => StringType
        }
    }

    val mb = new MetadataBuilder()
    if (maxLen > 0) mb.putLong("maxLength", maxLen.toLong)
    if (comment.nonEmpty) mb.putString("comment", comment)
    StructField(name, dt, nullable = !required, mb.build())
  }

  def parse(in: java.io.InputStream): Definition =
    try parseDoc(newBuilder.parse(in)) finally in.close()

  private def newBuilder = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newDocumentBuilder()
  }

  private def parseDoc(doc: Document): Definition = {
    val root = doc.getDocumentElement

    // fields: ALL xs:attribute in document order (xml.py:91-99)
    val fields = descendants(root, "attribute").map(fieldOf)

    // collection tag: first direct xs:element child of the schema with @name
    // (xml.py:101-104)
    val collection = children(root, "element").find(e => attr(e, "name").isDefined)
      .getOrElse(throw new DefinitionException("no xs:schema/xs:element[@name]"))
    val collectionTag = collection.getAttribute("name")
    val tableComment = documentationOf(collection)

    // entity tag: first xs:sequence/xs:element[@name], else [@ref], else
    // DefinitionError (xml.py:106-116)
    val seqElems = descendants(root, "sequence").flatMap(children(_, "element"))
    val entityTag = seqElems.collectFirst { case e if attr(e, "name").isDefined => e.getAttribute("name") }
      .orElse(seqElems.collectFirst { case e if attr(e, "ref").isDefined => e.getAttribute("ref") })
      .getOrElse(throw new DefinitionException(
        s"XSD for <$collectionTag> has no xs:sequence/xs:element entity tag"))

    Definition(collectionTag, entityTag, fields, tableComment)
  }

  // ------------------------------------------------------------- rendering

  /** GAR-realistic collection (root) tags per physical entity, used when
    * rendering fixture XSDs (the shape the real GAR distribution uses). */
  val collectionTagOf: Map[String, String] = Map(
    "ADDR_OBJ" -> "ADDRESSOBJECTS",
    "ADDR_OBJ_DIVISION" -> "ITEMS",
    "ADDR_OBJ_TYPES" -> "ADDRESSOBJECTTYPES",
    "ADM_HIERARCHY" -> "ITEMS",
    "APARTMENT_TYPES" -> "APARTMENTTYPES",
    "APARTMENTS" -> "APARTMENTS",
    "CARPLACES" -> "CARPLACES",
    "CHANGE_HISTORY" -> "ITEMS",
    "HOUSE_TYPES" -> "HOUSETYPES",
    "HOUSES" -> "HOUSES",
    "MUN_HIERARCHY" -> "ITEMS",
    "NORMATIVE_DOCS" -> "NORMDOCS",
    "NORMATIVE_DOCS_KINDS" -> "NDOCKINDS",
    "NORMATIVE_DOCS_TYPES" -> "NDOCTYPES",
    "OBJECT_LEVELS" -> "OBJECTLEVELS",
    "OPERATION_TYPES" -> "OPERATIONTYPES",
    "PARAM" -> "PARAMS",
    "PARAM_TYPES" -> "PARAMTYPES",
    "REESTR_OBJECTS" -> "OBJECTS",
    "ROOM_TYPES" -> "ROOMTYPES",
    "ROOMS" -> "ROOMS",
    "STEADS" -> "STEADS")

  /** Entity (row) tags per physical entity (the names real GAR XSDs declare
    * under xs:sequence — previously a hardcoded map in GarXml, now the source
    * of truth for *fixture rendering only*; reads derive the tag from the XSD). */
  val entityTagOf: Map[String, String] = Map(
    "ADDR_OBJ" -> "OBJECT",
    "ADDR_OBJ_DIVISION" -> "ITEM",
    "ADDR_OBJ_TYPES" -> "ADDRESSOBJECTTYPE",
    "ADM_HIERARCHY" -> "ITEM",
    "APARTMENT_TYPES" -> "APARTMENTTYPE",
    "APARTMENTS" -> "APARTMENT",
    "CARPLACES" -> "CARPLACE",
    "CHANGE_HISTORY" -> "ITEM",
    "HOUSE_TYPES" -> "HOUSETYPE",
    "HOUSES" -> "HOUSE",
    "MUN_HIERARCHY" -> "ITEM",
    "NORMATIVE_DOCS" -> "NORMDOC",
    "NORMATIVE_DOCS_KINDS" -> "NDOCKIND",
    "NORMATIVE_DOCS_TYPES" -> "NDOCTYPE",
    "OBJECT_LEVELS" -> "OBJECTLEVEL",
    "OPERATION_TYPES" -> "OPERATIONTYPE",
    "PARAM" -> "PARAM",
    "PARAM_TYPES" -> "PARAMTYPE",
    "REESTR_OBJECTS" -> "OBJECT",
    "ROOM_TYPES" -> "ROOMTYPE",
    "ROOMS" -> "ROOM",
    "STEADS" -> "STEAD")

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def renderField(f: StructField): String = {
    val use = if (!f.nullable) " use=\"required\"" else ""
    val comment = if (f.metadata.contains("comment")) f.metadata.getString("comment") else ""
    val ann =
      if (comment.nonEmpty)
        s"""
           |              <xs:annotation>
           |                <xs:documentation>${xmlEscape(comment)}</xs:documentation>
           |              </xs:annotation>""".stripMargin
      else ""
    val maxLen = if (f.metadata.contains("maxLength")) f.metadata.getLong("maxLength").toInt else 0
    def restriction(base: String, facet: String) =
      s"""
         |              <xs:simpleType>
         |                <xs:restriction base="$base">$facet
         |                </xs:restriction>
         |              </xs:simpleType>""".stripMargin
    val body = f.dataType match {
      case LongType => restriction("xs:long", "\n                  <xs:totalDigits value=\"19\"/>")
      case IntegerType => restriction("xs:integer", "\n                  <xs:totalDigits value=\"10\"/>")
      case ShortType => restriction("xs:integer", "\n                  <xs:totalDigits value=\"5\"/>")
      case ByteType => restriction("xs:byte", "")
      case DateType => restriction("xs:date", "")
      case StringType if maxLen > 0 =>
        restriction("xs:string", s"""\n                  <xs:maxLength value="$maxLen"/>""")
      case StringType => null // direct @type, no restriction
      case BooleanType => null // direct @type
      case other => sys.error(s"unexpected GAR field type $other")
    }
    if (body == null) {
      val t = f.dataType match {
        case BooleanType => "xs:boolean"
        case _ => "xs:string"
      }
      s"""            <xs:attribute name="${f.name}" type="$t"$use>$ann
         |            </xs:attribute>""".stripMargin
    } else {
      s"""            <xs:attribute name="${f.name}"$use>$ann$body
         |            </xs:attribute>""".stripMargin
    }
  }

  /** Render a fixture XSD for a physical entity in the shape the reference
    * parses (and its XSLT templates transform). */
  def render(entity: String): String = {
    val fields = SchemaRegistry.entities(entity)
    val collection = collectionTagOf(entity)
    val row = entityTagOf(entity)
    val attrs = fields.map(renderField).mkString("\n")
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
       |  <xs:element name="$collection">
       |    <xs:annotation>
       |      <xs:documentation>Fixture set for $entity</xs:documentation>
       |    </xs:annotation>
       |    <xs:complexType>
       |      <xs:sequence>
       |        <xs:element name="$row" maxOccurs="unbounded">
       |          <xs:complexType>
       |$attrs
       |          </xs:complexType>
       |        </xs:element>
       |      </xs:sequence>
       |    </xs:complexType>
       |  </xs:element>
       |</xs:schema>
       |""".stripMargin
  }
}
