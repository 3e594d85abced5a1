package graft.ingest

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element, Node => DomNode}
import scala.collection.mutable

/** XML corpus → (documents, nodes, node_properties) DataFrames.
  *
  * Distributed re-expression of the reference's ingest pipeline
  * (/root/reference/main.rb:61-82, lib/document_parser.rb): instead of a
  * fiber producer/consumer feeding a single SQLite writer, every file is
  * parsed as one row of Spark's `binaryFile` source and DOM-walked inside
  * `mapPartitions`; the per-document node/property sequences are exploded
  * into columnar tables and duplicate keys resolved with a deterministic
  * last-write-wins window (the reference's `INSERT OR REPLACE`,
  * database_writer.rb:46-61). At cluster scale each file is an
  * independent task input — no shared writer, no queue, no transaction
  * machinery; the atomic Spark job commit replaces batch commits.
  *
  * Parser semantics replicated from the reference (document_parser.rb):
  *  - only elements carrying an `id` attribute become rows (:26);
  *  - `node_type` / property names are namespace-local names (Nokogiri
  *    `Node#name` / `#attributes` behavior, asserted in
  *    test_edge_cases.rb:177-199);
  *  - `content` concatenates descendant text with whitespace-only text
  *    nodes dropped (the `noblanks` parse, :13), then strips;
  *  - `xpath` carries positional predicates only where same-named
  *    siblings exist (libxml2 `Node#path`, test_basic_functionality
  *    .rb:137-146 asserts the index-free form);
  *  - `position` is the element's 0-based index among *element*
  *    siblings (:70-75);
  *  - entity references are decoded and CDATA coalesced into text
  *    (test_edge_cases.rb:58-79,201-221); comments and processing
  *    instructions contribute nothing (:223-261);
  *  - malformed files are salvaged to their parseable prefix with
  *    open elements auto-closed (the reference's recovering-Nokogiri
  *    behavior, test_edge_cases.rb:154-175); files with no salvageable
  *    root yield zero rows and never fail the job
  *    (async_processor.rb:58-64).
  */
object XmlIngest {

  /** Recursive scan of `.xml` files + whole-file read as a DataFrame
    * (main.rb:62's recursive `Dir.glob` — but splittable across
    * executors). */
  def scan(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xml")
      .option("recursiveFileLookup", "true")
      .load(inputDir)

  /** Parse every file into the per-document IR. Parsing is pure
    * computation per file, so it scales linearly with executor count.
    * `failures` (optional) is incremented once per unparseable file —
    * an accumulator-based monitor, so it counts task *executions*:
    * exact on a cached single pass, may overcount under recomputation
    * (the standard Spark accumulator caveat). */
  def parse(spark: SparkSession, inputDir: String,
      failures: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[ParsedDocument] = {
    import spark.implicits._
    scan(spark, inputDir)
      .select("path", "length", "content")
      .as[(String, Long, Array[Byte])]
      .mapPartitions { files =>
        // builder constructed once per partition and reset per file —
        // factory SPI lookup stays off the per-file hot path
        val builder = newBuilder()
        files.flatMap { case (rawPath, length, bytes) =>
          builder.reset()
          val parsed = parseOne(rawPath, length, bytes, builder)
          if (parsed.isEmpty) failures.foreach(_.add(1L))
          parsed
        }
      }
  }

  private def newBuilder(): javax.xml.parsers.DocumentBuilder = {
    val factory = DocumentBuilderFactory.newInstance()
    factory.setNamespaceAware(false)
    factory.setCoalescing(true)
    factory.setIgnoringComments(true)
    noExternalEntities(factory.setFeature)
    factory.setAttribute(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
    factory.setAttribute(javax.xml.XMLConstants.ACCESS_EXTERNAL_SCHEMA, "")
    val builder = factory.newDocumentBuilder()
    builder.setErrorHandler(QuietErrors)
    builder
  }

  /** The DOM parse's error handler. Without one the parser prints
    * `[Fatal Error] :line:col: …` to stderr for every malformed file.
    * A fatal error still throws, so the salvage parse runs; recoverable
    * errors and warnings are dropped. */
  private object QuietErrors extends org.xml.sax.ErrorHandler {
    def warning(e: org.xml.sax.SAXParseException): Unit = ()
    def error(e: org.xml.sax.SAXParseException): Unit = ()
    def fatalError(e: org.xml.sax.SAXParseException): Unit = throw e
  }

  /** Turns off everything that reads outside the file: the external DTD
    * and external general and parameter entities. `load-external-dtd`
    * alone still resolves `<!ENTITY x SYSTEM "file:…">`, which would put
    * a local file's bytes into `nodes.content`; the reference's Nokogiri
    * default does not substitute external entities either. */
  private def noExternalEntities(set: (String, Boolean) => Unit): Unit = {
    set("http://apache.org/xml/features/nonvalidating/load-external-dtd",
      false)
    set("http://xml.org/sax/features/external-general-entities", false)
    set("http://xml.org/sax/features/external-parameter-entities", false)
  }

  /** Reconstruct the parseable prefix of a malformed file as a DOM
    * document: replay SAX events into a DOM tree until the first fatal
    * error, leaving any still-open elements implicitly auto-closed —
    * the same shape libxml2's recovering parser (the reference's
    * default Nokogiri mode, document_parser.rb:13) produces for
    * truncated/unclosed markup, e.g. test_edge_cases.rb:154-175's
    * fixture where unclosed `<item>`s nest and survive. Elements are
    * attached to their parent at start-tag time, so everything seen
    * before the error is kept. Returns None when no root element was
    * ever started (nothing to salvage — the reference also skips such
    * files: a recovered empty document has a nil root and its parse
    * raises in the node walk, async_processor.rb:58-64). */
  private def salvageParse(bytes: Array[Byte],
      builder: javax.xml.parsers.DocumentBuilder)
      : Option[org.w3c.dom.Document] = {
    val doc = builder.newDocument()
    val factory = javax.xml.parsers.SAXParserFactory.newInstance()
    factory.setNamespaceAware(false)
    noExternalEntities(factory.setFeature)
    val parser = factory.newSAXParser()
    parser.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
    parser.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_SCHEMA, "")
    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var stack: List[Element] = Nil
      private val text = new StringBuilder
      // Coalesce consecutive character chunks into one text node so a
      // chunk boundary can never split a run of text in a way that
      // changes the whitespace-only drop decision downstream.
      private def flushText(): Unit =
        if (text.nonEmpty) {
          stack.headOption
            .foreach(_.appendChild(doc.createTextNode(text.toString)))
          text.clear()
        }
      override def startElement(uri: String, local: String, qname: String,
          attrs: org.xml.sax.Attributes): Unit = {
        flushText()
        val e = doc.createElement(qname)
        var i = 0
        while (i < attrs.getLength) {
          e.setAttribute(attrs.getQName(i), attrs.getValue(i))
          i += 1
        }
        stack match {
          case p :: _ => p.appendChild(e)
          case Nil if doc.getDocumentElement == null => doc.appendChild(e)
          case Nil => () // stray second root: unattached, never walked
        }
        stack = e :: stack
      }
      override def endElement(uri: String, local: String,
          qname: String): Unit = {
        flushText()
        stack = stack.drop(1)
      }
      override def characters(ch: Array[Char], start: Int,
          len: Int): Unit = { text.appendAll(ch, start, len); () }
      override def error(
          e: org.xml.sax.SAXParseException): Unit = () // recoverable
      def finish(): Unit = flushText() // pending text at the fatal stop
    }
    try parser.parse(new ByteArrayInputStream(bytes), handler)
    catch {
      case _: org.xml.sax.SAXException | _: java.io.IOException => ()
    }
    handler.finish()
    Option(doc.getDocumentElement).map(_ => doc)
  }

  /** md5 of the raw file bytes as lowercase hex — fills the reference
    * schema's `file_hash` column (001_create_base_schema.rb:14), which
    * the reference declares but never populates. */
  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new StringBuilder(32)
    var i = 0
    while (i < d.length) { sb.append(f"${d(i) & 0xff}%02x"); i += 1 }
    sb.result()
  }

  /** Parse one file; falls back to [[salvageParse]] on strict-parse
    * failure (error-tolerant source S5 + the reference's "process what
    * it can" recovery, test_edge_cases.rb:154-175), and None when
    * nothing at all is salvageable. */
  def parseOne(rawPath: String, length: Long,
      bytes: Array[Byte]): Option[ParsedDocument] =
    parseOne(rawPath, length, bytes, newBuilder())

  def parseOne(rawPath: String, length: Long, bytes: Array[Byte],
      builder: javax.xml.parsers.DocumentBuilder): Option[ParsedDocument] = {
    val path = if (rawPath.startsWith("file:")) rawPath.stripPrefix("file:")
      else rawPath
    val base = path.substring(path.lastIndexOf('/') + 1)
    val docId = if (base.endsWith(".xml")) base.dropRight(4) else base
    try {
      val dom =
        try builder.parse(new ByteArrayInputStream(bytes))
        catch {
          case _: org.xml.sax.SAXException =>
            salvageParse(bytes, builder).orNull
        }
      if (dom == null) return None
      val nodes = mutable.ArrayBuffer.empty[RawNode]
      val props = mutable.ArrayBuffer.empty[RawProperty]
      var ordinal = 0L

      def localName(qname: String): String = {
        val i = qname.indexOf(':')
        if (i >= 0) qname.substring(i + 1) else qname
      }

      // Descendant text with whitespace-only text nodes dropped, the
      // `noblanks` + `element.text` combination (document_parser.rb:13,48).
      def collectText(e: Element, sb: StringBuilder): Unit = {
        var c = e.getFirstChild
        while (c != null) {
          c.getNodeType match {
            case DomNode.TEXT_NODE | DomNode.CDATA_SECTION_NODE =>
              val v = c.getNodeValue
              if (v != null && v.trim.nonEmpty) sb.append(v)
            case DomNode.ELEMENT_NODE =>
              collectText(c.asInstanceOf[Element], sb)
            case _ => ()
          }
          c = c.getNextSibling
        }
      }

      def elementChildren(e: DomNode): Vector[Element] = {
        val buf = Vector.newBuilder[Element]
        var c = e.getFirstChild
        while (c != null) {
          if (c.getNodeType == DomNode.ELEMENT_NODE)
            buf += c.asInstanceOf[Element]
          c = c.getNextSibling
        }
        buf.result()
      }

      def walk(e: Element, parent: Option[Element], xpath: String,
          position: Int): Unit = {
        if (e.hasAttribute("id")) {
          val id = e.getAttribute("id")
          val parentId = parent.filter(_.hasAttribute("id"))
            .map(_.getAttribute("id"))
          val sb = new StringBuilder
          collectText(e, sb)
          nodes += RawNode(id, localName(e.getNodeName), docId, parentId,
            position, Some(sb.result().trim), xpath, ordinal)
          val attrs = e.getAttributes
          var i = 0
          while (i < attrs.getLength) {
            val a = attrs.item(i)
            val name = localName(a.getNodeName)
            if (name != "id")
              props += RawProperty(id, name, a.getNodeValue,
                TypeInference.inferType(a.getNodeValue), docId, ordinal)
            i += 1
          }
          ordinal += 1
        }
        val children = elementChildren(e)
        // Positional xpath predicates only where a name is ambiguous
        // among siblings (libxml2 path format).
        val nameTotals = children.groupBy(_.getNodeName).map {
          case (n, cs) => n -> cs.size
        }
        val nameSeen = mutable.Map.empty[String, Int].withDefaultValue(0)
        children.zipWithIndex.foreach { case (child, idx) =>
          val qn = child.getNodeName
          val occ = nameSeen(qn) + 1
          nameSeen(qn) = occ
          val seg = if (nameTotals(qn) > 1) s"$qn[$occ]" else qn
          walk(child, Some(e), s"$xpath/$seg", idx)
        }
      }

      val root = dom.getDocumentElement
      if (root != null) walk(root, None, s"/${root.getNodeName}", 0)
      Some(ParsedDocument(DocumentRow(docId, path, md5Hex(bytes), length),
        nodes.toSeq, props.toSeq))
    } catch {
      // StackOverflowError included: pathological nesting depth must
      // skip the file, not abort the job (the documented S5 contract)
      case _: Exception | _: StackOverflowError =>
        // Malformed file: keep the document row absent entirely, like a
        // file whose parse raised before any rows were enqueued.
        None
    }
  }

  /** Exploded + deduplicated public tables; `caches` holds the parse
    * cache they derive from, for the caller to release when done. */
  final case class XmlTables(documents: DataFrame, nodes: DataFrame,
      properties: DataFrame, caches: Seq[Dataset[_]] = Nil)

  /** Explode the per-document IR into the three public tables, applying
    * `INSERT OR REPLACE` key semantics: for each primary key the *last*
    * written row wins, where arrival order is made deterministic as
    * (filename, within-file document order) — see SURVEY.md §7.4. */
  def tables(parsedInput: Dataset[ParsedDocument]): XmlTables = {
    val spark = parsedInput.sparkSession
    import spark.implicits._
    // Three tables derive from one parse — cache the IR so the DOM walk
    // runs once per file, not once per output table. The cache goes out
    // with the tables (XmlTables.caches), so their owner can release it.
    val parsed = parsedInput.cache()

    // Last-write-wins as a max_by hash aggregate, not a row_number
    // window: the aggregate partially combines map-side, so at scale
    // each shuffle moves ~one candidate row per key per map task,
    // where the window form shuffles every duplicate row and then
    // sorts each partition. Arrival order is the deterministic
    // (filename, within-file document order) — see SURVEY.md §7.4.
    def latest(df: DataFrame, keys: Seq[org.apache.spark.sql.Column],
        ord: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(keys: _*)
        .agg(max_by(struct(df.columns.map(col).toIndexedSeq: _*), ord)
          .as("w"))
        .select($"w.*")

    val documents = latest(parsed.select($"document.*"),
      Seq($"id"), $"filename")
      .select($"id", $"filename", $"file_hash", $"file_size",
        current_timestamp().as("parsed_at"))

    val arrival = struct($"filename", $"ordinal")

    // Two replace keys: PK (id), then UNIQUE(parent_id, position)
    // (001_create_base_schema.rb:29; null parents are exempt, matching
    // SQLite's multi-NULL semantics). Semantics are *set-based*: a
    // surviving row is the last arrival for its id AND the last among
    // the id-survivors for its (parent_id, position). This diverges
    // from SQLite's row-at-a-time INSERT OR REPLACE in one corner: if a
    // middle arrival deletes an earlier row via the UNIQUE constraint
    // and is later itself replaced via the PK, SQLite leaves that
    // (parent, position) slot empty, whereas the set form keeps the
    // earlier row (it is the last id-survivor for the slot). The
    // declarative form is order-independent and scale-stable — pinned
    // by IngestSpec "double-conflict interleaving".
    //
    // The UNIQUE pass exempts null parents by giving each null-parent
    // row its own group (third key = id when parent is null) — one
    // aggregation, no filtered-union re-scan of the PK pass's output.
    val byId = latest(
      parsed.select($"document.filename", explode($"nodes").as("n"))
        .select($"filename", $"n.*"),
      Seq($"id"), arrival)
    val nodes = latest(byId,
      Seq($"parent_id", $"position",
        when($"parent_id".isNull, $"id").as("null_slot")), arrival)
      .select($"id", $"node_type", $"document_id", $"parent_id",
        $"position", $"content", $"xpath",
        current_timestamp().as("created_at"))

    val properties = latest(
      parsed.select($"document.filename", explode($"properties").as("p"))
        .select($"filename", $"p.*"),
      Seq($"node_id", $"property_name"), arrival)
      .select($"node_id", $"property_name", $"property_value", $"data_type",
        $"document_id")

    XmlTables(documents, nodes, properties, Seq(parsed))
  }

  /** Widened per-rowTag read via Spark's built-in XML source — the
    * schema-on-read companion to the generic node model (SURVEY.md S2's
    * `format("xml")` mapping): one row per `<rowTag>` element, nested
    * children as struct/array columns, attributes `_`-prefixed. Right
    * when a corpus slice is homogeneous and column-shaped queries are
    * wanted directly; the DOM path remains the semantics-exact route to
    * the property-graph tables. Schema inference scans the data once —
    * pass `schema` to skip that at scale. */
  def widenedRead(spark: SparkSession, inputDir: String, rowTag: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val reader = spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.xml")
    schema.fold(reader)(reader.schema).load(inputDir)
  }

  /** One-call convenience: directory → tables. */
  def ingest(spark: SparkSession, inputDir: String,
      failures: Option[org.apache.spark.util.LongAccumulator] = None)
      : XmlTables =
    tables(parse(spark, inputDir, failures))
}
