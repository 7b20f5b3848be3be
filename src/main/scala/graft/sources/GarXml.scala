package graft.sources

import graft.model.{SchemaRegistry, XsdSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8

/**
 * GAR XML ingest (SURVEY.md SRC-1..4): the Spark re-expression of the
 * reference's streaming scan (/root/reference/ru_address/source/xml.py:19-38).
 *
 * Scale shape:
 *  - files are read through the Hadoop FileSystem API (HDFS/S3/local all
 *    work — executors must not assume a shared POSIX filesystem);
 *  - large files are SPLIT into byte-range chunks, each scanned by its own
 *    task from the first element boundary past the chunk start (offset-split
 *    with element-boundary resync), so ingest parallelism >= cores instead of
 *    <= files. A task owns the elements that *start* inside its range —
 *    standard Hadoop split semantics;
 *  - every row carries `ord` = the element's byte offset in its file, so
 *    document order (ORD-1) is reconstructible after any shuffle with a plain
 *    `orderBy(ord)`;
 *  - per-task memory is constant: the scanner holds one 64 KiB window plus
 *    one element's values, mirroring the reference's iterparse + buffer
 *    reclamation (xml.py:69-71);
 *  - the scan is column-selective: the split scanner matches attribute
 *    names as bytes and converts only the requested attributes, and a read
 *    of just (region, ord) only skims for element starts.
 *
 * Schema + entity tag come from the *runtime-parsed XSD* (XsdSchema, SRC-2),
 * exactly like the reference's Definition — a GAR schema update changes the
 * engine's behavior without a code change. The registry remains a fallback
 * for XSD-less use.
 */
object GarXml {

  // ------------------------------------------------------- split scanning

  /**
   * Byte-range element scanner: one row over `required` for every
   * `<tag ...>` element whose '<' is in [start, end), reading past `end` to
   * finish the last owned element. `in` must be positioned at `start`. A
   * column named `ord` gets the element's byte offset and one named `region`
   * gets `region` (null when empty); every other column is the attribute of
   * that name, typed per its field, null when absent.
   *
   * The bytes go through one 64 KiB window with a plain index. Attribute
   * names are matched as bytes against the requested ones, and any other
   * attribute is skipped without allocating. With no attribute requested
   * the scanner only skims for element starts: well-formed XML has no '<'
   * inside an attribute value. A requested value with no '&', tab, CR or LF
   * becomes a UTF8String over a copy of its raw bytes; any other goes through
   * `decodeAttr`, which applies the five named entities, numeric character
   * references and attribute-value whitespace normalization exactly as a
   * conforming parser (lxml in the reference, StAX in the specs) does. Numbers,
   * booleans and dates parse from that value. Memory is the window plus one
   * element's values. ASCII byte matching is safe inside UTF-8 (multi-byte
   * sequences never contain ASCII bytes).
   *
   * Comments / CDATA / DOCTYPE: any such construct that STARTS inside the
   * scanned range is skipped wholesale, so `<tag` text within it cannot emit
   * phantom rows (whole-file scans are therefore fully comment/CDATA-safe).
   * Residual precondition, split scans only: a construct spanning a chunk
   * boundary is invisible to the task that starts inside it — byte-range
   * splitting of XML fundamentally requires that (GAR deliveries are
   * machine-generated attribute-only rows; they contain neither).
   */
  private[graft] def scanElements(in: java.io.InputStream, start: Long, end: Long,
      tag: String, required: StructType, region: String): Iterator[InternalRow] =
    new ElementScanner(in, start, end, tag.getBytes(UTF_8), required, region)

  private object ElementScanner {
    final val Window = 1 << 16
    // value kinds, one per requested attribute
    final val KString = 0
    final val KLong = 1
    final val KInt = 2
    final val KShort = 3
    final val KByte = 4
    final val KBoolean = 5
    final val KDate = 6

    def kindOf(t: DataType): Int = t match {
      case StringType => KString
      case LongType => KLong
      case IntegerType => KInt
      case ShortType => KShort
      case ByteType => KByte
      case BooleanType => KBoolean
      case DateType => KDate
      case other => throw new IllegalStateException(s"unexpected GAR type $other")
    }

    private val True = "true".getBytes(UTF_8)
    private val One = "1".getBytes(UTF_8)

    private def str(a: Array[Byte], off: Int, len: Int): String = new String(a, off, len, UTF_8)

    /** A decimal integer: digits (at most 18) with an optional '-' take the
      * fast path; anything else goes to `java.lang.Long.parseLong`, which
      * raises on junk as the String path always did. */
    private def parseLong(a: Array[Byte], off: Int, len: Int): Long = {
      val neg = len > 0 && a(off) == '-'
      var p = if (neg) off + 1 else off
      val e = off + len
      if (e - p >= 1 && e - p <= 18) {
        var v = 0L
        while (p < e && a(p) >= '0' && a(p) <= '9') { v = v * 10 + (a(p) - '0'); p += 1 }
        if (p == e) return if (neg) -v else v
      }
      java.lang.Long.parseLong(str(a, off, len))
    }

    /** The typed value of the `len` bytes at `off` of `a`; out-of-range
      * numbers fall through to the String parser to raise. */
    def convert(kind: Int, a: Array[Byte], off: Int, len: Int): Any = kind match {
      // fromBytes wraps without copying, and the window is reused
      case KString => UTF8String.fromBytes(java.util.Arrays.copyOfRange(a, off, off + len))
      case KLong => parseLong(a, off, len)
      case KInt =>
        val v = parseLong(a, off, len)
        if (v == v.toInt) v.toInt else Integer.parseInt(str(a, off, len))
      case KShort =>
        val v = parseLong(a, off, len)
        if (v == v.toShort) v.toShort else java.lang.Short.parseShort(str(a, off, len))
      case KByte =>
        val v = parseLong(a, off, len)
        if (v == v.toByte) v.toByte else java.lang.Byte.parseByte(str(a, off, len))
      case KBoolean =>
        java.util.Arrays.equals(a, off, off + len, True, 0, True.length) ||
          java.util.Arrays.equals(a, off, off + len, One, 0, One.length)
      case KDate => GarXmlReaderFactory.isoToEpochDay(a, off, len)
    }

    def isSpace(b: Int): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'
  }

  private final class ElementScanner(in: java.io.InputStream, start: Long, end: Long,
      tag: Array[Byte], required: StructType, region: String) extends Iterator[InternalRow] {
    import ElementScanner._

    private val width = required.length
    private val ordAt = required.fieldNames.indexOf("ord")
    private val regionAt = required.fieldNames.indexOf("region")
    private val regionValue = if (region.isEmpty) null else UTF8String.fromString(region)
    // the requested attributes: output column, name bytes, value kind
    private val attrAt = required.fields.indices.filter(i => i != ordAt && i != regionAt).toArray
    private val names = attrAt.map(i => required.fields(i).name.getBytes(UTF_8))
    private val kinds = attrAt.map(i => kindOf(required.fields(i).dataType))
    // an attribute name read from the input: longer names match nothing
    private val name = new Array[Byte](names.map(_.length).maxOption.getOrElse(0))
    private var hint = 0 // the requested attribute tried first: the one after the last match

    private val buf = new Array[Byte](Window)
    private var lim = 0        // valid bytes in buf
    private var i = 0          // next byte to read in buf
    private var base = start   // file offset of buf(0)
    private var done = false
    private var row: InternalRow = _
    // a value crossing a refill gathers here; spillLen -1: the value lies in buf
    private var spill = new Array[Byte](256)
    private var spillLen = -1

    def hasNext: Boolean = { if (row == null && !done) row = advance(); row != null }
    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = row; row = null; r
    }

    private def finish(): Unit = { done = true; in.close() }

    /** Reads the next window; false (and finished) at end of input. */
    private def refill(): Boolean = !done && {
      base += lim; i = 0
      lim = math.max(0, in.read(buf, 0, buf.length))
      if (lim == 0) finish()
      lim > 0
    }

    /** The next byte (0-255) without consuming it, or -1 at end of input. */
    private def peek(): Int = if (i < lim || refill()) buf(i) & 0xff else -1
    private def read(): Int = { val b = peek(); if (b >= 0) i += 1; b }

    /** The next owned element's row, or null once past `end` or the input. */
    private def advance(): InternalRow = {
      while (!done) {
        var j = i
        while (j < lim && buf(j) != '<') j += 1
        i = j
        if (j == lim) refill()
        else if (base + j >= end) finish()
        else {
          val at = base + j
          i += 1
          if (peek() == '!') { i += 1; skipMarkup() }
          else if (matchTag()) return element(at)
        }
      }
      null
    }

    /** Consumes the tag name after '<' when it is `tag` followed by a
      * delimiter ("<OBJECT" must not match "<OBJECTLEVEL"); a mismatching
      * byte stays unread, so a '<' there starts the next candidate. */
    private def matchTag(): Boolean = {
      var k = 0
      while (k < tag.length) {
        if (peek() != (tag(k) & 0xff)) return false
        i += 1; k += 1
      }
      val d = peek()
      isSpace(d) || d == '/' || d == '>'
    }

    /** Skips the comment, CDATA section or DOCTYPE whose "<!" was just read. */
    private def skipMarkup(): Unit = read() match {
      case '-' => skipPast('-', '-', '>') // "<!--": the second '-' enters the window
      case '[' => skipPast(']', ']', '>') // "<![CDATA[ ... ]]>"
      case '>' => // degenerate "<!>"
      case _ => // "<!DOCTYPE ...>" (no internal subset in GAR files)
        var z = 0
        while ({ z = read(); z >= 0 && z != '>' }) ()
    }

    /** Skips past the 3-byte terminator abc (a sliding window, so overlapping
      * prefixes like "]]]>" terminate correctly). */
    private def skipPast(a: Int, b: Int, c: Int): Unit = {
      var x = -1; var y = -1; var z = read()
      while (z >= 0 && !(x == a && y == b && z == c)) { x = y; y = z; z = read() }
    }

    private def element(at: Long): InternalRow = {
      val vals = new Array[Any](width)
      if (ordAt >= 0) vals(ordAt) = at
      if (regionAt >= 0) vals(regionAt) = regionValue
      if (names.nonEmpty) attributes(vals)
      // hottest path in the ingest: wrap the array directly, no copy
      new GenericInternalRow(vals)
    }

    /** Reads the attributes up to the element's closing '>'. */
    private def attributes(vals: Array[Any]): Unit = {
      var b = read()
      while (b >= 0 && b != '>') {
        if (b == '/' || isSpace(b)) b = read() // self-close
        else {
          // ANY XML whitespace ends the name: a tab or newline before '='
          // (legal XML) must not be swallowed into it
          var len = 0
          while (b >= 0 && b != '=' && b != '>' && b != '/' && !isSpace(b)) {
            if (len < name.length) name(len) = b.toByte
            len += 1; b = read()
          }
          while (isSpace(b)) b = read()
          if (b == '=') {
            b = read()
            while (isSpace(b)) b = read()
            value(b, if (len <= name.length) lookup(len) else -1, vals)
            b = read()
          }
        }
      }
    }

    /** The requested attribute named by the first `len` bytes of `name`, or -1. */
    private def lookup(len: Int): Int = {
      var n = 0
      while (n < names.length) {
        val k = (hint + n) % names.length
        if (names(k).length == len && java.util.Arrays.equals(names(k), 0, len, name, 0, len)) {
          hint = k + 1
          return k
        }
        n += 1
      }
      -1
    }

    /** Reads a value up to its closing `quote` (consumed) and stores it when
      * it belongs to requested attribute k. The value is a slice of buf
      * unless it crosses a refill; then its bytes gather in `spill`. */
    private def value(quote: Int, k: Int, vals: Array[Any]): Unit = if (quote >= 0) {
      val q = quote.toByte
      var plain = true // no '&', tab, CR or LF: the raw bytes are the value
      var s = i
      var j = i
      var open = true
      spillLen = -1
      while (open) {
        while (j < lim && buf(j) != q) {
          val c = buf(j)
          if (c == '&' || c == '\t' || c == '\n' || c == '\r') plain = false
          j += 1
        }
        if (j < lim) { open = false; i = j + 1 }
        else {
          if (k >= 0) gather(s, j)
          i = j
          open = refill()
          s = 0; j = 0
        }
      }
      if (k >= 0) {
        if (spillLen < 0) store(k, buf, s, j - s, plain, vals)
        else { gather(s, j); store(k, spill, 0, spillLen, plain, vals) }
      }
    }

    private def store(k: Int, a: Array[Byte], off: Int, len: Int, plain: Boolean,
        vals: Array[Any]): Unit =
      vals(attrAt(k)) =
        if (plain) convert(kinds(k), a, off, len)
        else {
          val d = decodeAttr(new String(a, off, len, UTF_8)).getBytes(UTF_8)
          convert(kinds(k), d, 0, d.length)
        }

    private def gather(from: Int, until: Int): Unit = {
      val have = math.max(spillLen, 0)
      val need = have + until - from
      if (need > spill.length) spill = java.util.Arrays.copyOf(spill, math.max(need, 2 * spill.length))
      System.arraycopy(buf, from, spill, have, until - from)
      spillLen = need
    }
  }

  /** XML attribute-value decode: entities + whitespace normalization. */
  private[sources] def decodeAttr(s: String): String = {
    if (s.indexOf('&') < 0 && s.indexOf('\t') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0)
      return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // XML line-end normalization happens BEFORE attribute-value
      // normalization: a literal CRLF is one line end -> ONE space (the
      // specs' StAX parse does the same; two spaces would diverge)
      if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') { sb.append(' '); i += 2 }
      else if (c == '\t' || c == '\n' || c == '\r') { sb.append(' '); i += 1 }
      else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0) { sb.append(c); i += 1 }
        else {
          val ent = s.substring(i + 1, semi)
          ent match {
            case "amp" => sb.append('&')
            case "lt" => sb.append('<')
            case "gt" => sb.append('>')
            case "quot" => sb.append('"')
            case "apos" => sb.append('\'')
            case _ if ent.startsWith("#x") || ent.startsWith("#X") =>
              sb.appendCodePoint(Integer.parseInt(ent.substring(2), 16))
            case _ if ent.startsWith("#") =>
              sb.appendCodePoint(Integer.parseInt(ent.substring(1)))
            case _ => sb.append('&').append(ent).append(';')
          }
          i = semi + 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // --------------------------------------------------------- discovery

  private def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  /**
   * Source-file discovery (SRC-3, common.py:47-60): glob AS_{table}_2*.{ext}
   * case-insensitive extension; exactly one match required. Hadoop FS, so it
   * works on HDFS/S3 as well as local dirs.
   */
  def discoverFile(dir: String, table: String, ext: String, conf: Configuration): String = {
    val f = fs(dir, conf)
    val found = Seq(ext.toLowerCase, ext.toUpperCase).flatMap { e =>
      f.globStatus(new Path(dir, s"AS_${table}_2*.$e")) match {
        case null => Nil
        case st => st.toSeq.map(_.getPath.toString)
      }
    }.distinct.sorted
    // distinct from the not-found case: callers with a registry fallback
    // (GarXmlSource.defnOf) must surface ambiguity, not silently fall back
    if (found.length > 1) throw new IllegalStateException(
      s"More than one file found for $table in $dir")
    if (found.isEmpty) throw new java.io.FileNotFoundException(
      s"Not found source file: $dir/AS_${table}_2*.$ext")
    found.head
  }

  /** Partition discovery (SRC-4, dump.py:12-14): numeric subdirectories. */
  def discoverRegions(sourceDir: String, conf: Configuration): Seq[String] = {
    val f = fs(sourceDir, conf)
    f.listStatus(new Path(sourceDir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.nonEmpty &&
        st.getPath.getName.forall(_.isDigit))
      .map(_.getPath.getName).sorted
  }

  /** Runtime definition for a table: discover + parse its XSD (SRC-2). The
    * XSD is authoritative for schema, entity tag and collection tag, exactly
    * like the reference (dump.py:60-61). */
  def definitionOf(schemaDir: String, table: String,
      conf: Configuration): XsdSchema.Definition = {
    val entity = SchemaRegistry.entityOf(table)
    val xsdPath = discoverFile(schemaDir, entity, "xsd", conf)
    val in = fs(xsdPath, conf).open(new Path(xsdPath))
    // parse closes the stream on success; a PARSE FAILURE must not leak it
    try XsdSchema.parse(in)
    catch { case e: Throwable => try in.close() catch { case _: Throwable => }; throw e }
  }

  /**
   * Distributed read of one table across regions, schema-driven by the
   * runtime-parsed XSD. Output columns: XSD fields ++ (region, ord).
   * Delegates to the DataSource V2 connector (GarXmlSource) — splittable
   * InputPartitions, InternalRow production, pruning hooks; no RDD anywhere
   * in the ingest.
   *
   * @param chunkBytes byte-range split size; files larger than this are read
   *                   by multiple tasks (element-boundary resync at offsets).
   */
  def read(spark: SparkSession, sourceDir: String, table: String,
      regions: Seq[String] = Nil, schemaDir: String = null,
      chunkBytes: Long = 64L * 1024 * 1024,
      lexicalBooleans: Boolean = false): DataFrame = {
    var r = spark.read.format("gar-xml")
      .option("table", table)
      .option("chunkBytes", chunkBytes.toString)
      .option("lexicalBooleans", lexicalBooleans.toString)
    if (regions.nonEmpty) r = r.option("regions", regions.mkString(","))
    if (schemaDir != null) r = r.option("schemaDir", schemaDir)
    r.load(sourceDir)
  }

  /** Render fixture rows back to GAR-shaped XML (test/golden support). */
  def toXml(rows: Seq[Row], schema: StructType, collectionTag: String, tag: String): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    sb.append(s"<$collectionTag>\n")
    for (r <- rows) {
      sb.append(s"  <$tag")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = r.get(i)
        if (v != null) {
          val s = v match {
            case b: Boolean => if (b) "true" else "false"
            case other => other.toString
          }
          val escaped = s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("\"", "&quot;")
            .replace("\t", "&#009;").replace("\n", "&#010;").replace("\r", "&#013;")
          sb.append(s""" ${f.name}="$escaped"""")
        }
      }
      sb.append(" />\n")
    }
    sb.append(s"</$collectionTag>\n")
    sb.toString
  }
}
