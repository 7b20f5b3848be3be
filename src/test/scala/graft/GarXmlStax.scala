package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/** The StAX whole-file GAR XML parse: the reference reading that the split
  * scanner (`GarXml.read`) is checked against. */
object GarXmlStax {

  /** Parse a single XML stream into typed Rows per the table schema. */
  def parseStream(in: java.io.InputStream, schema: StructType, entityTag: String): Iterator[Row] = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val reader = factory.createXMLStreamReader(in, "UTF-8")
    new Iterator[Row] {
      private var nextRow: Row = _
      private var finished = false

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && !finished) {
          if (!reader.hasNext) { finished = true; reader.close(); in.close() }
          else if (reader.next() == XMLStreamConstants.START_ELEMENT &&
              reader.getLocalName == entityTag) {
            val attrs = (0 until reader.getAttributeCount)
              .map(i => reader.getAttributeLocalName(i) -> reader.getAttributeValue(i))
              .toMap
            nextRow = Row.fromSeq(schema.fields.map(f =>
              attrs.get(f.name).map(v => cast(v, f.dataType)).orNull).toSeq)
          }
        }
      }

      def hasNext: Boolean = {
        if (nextRow == null && !finished) advance()
        nextRow != null
      }
      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  /** XSD->engine typed value (the reference passes strings through; we land
    * them in the XSD-derived Spark types). */
  private def cast(v: String, t: DataType): Any = t match {
    case StringType => v
    case LongType => v.toLong
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case BooleanType => v == "true" || v == "1"
    case DateType => java.sql.Date.valueOf(v)
    case other => sys.error(s"unexpected GAR type $other")
  }
}
