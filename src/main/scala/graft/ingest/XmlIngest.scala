package graft.ingest

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import javax.xml.parsers.{SAXParser, SAXParserFactory}
import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable

/** XML corpus → (documents, nodes, node_properties) DataFrames.
  *
  * Distributed re-expression of the reference's ingest pipeline
  * (/root/reference/main.rb:61-82, lib/document_parser.rb): instead of a
  * fiber producer/consumer feeding a single SQLite writer, every file is
  * parsed as one row of Spark's `binaryFile` source, in one SAX pass
  * inside `mapPartitions`; the per-document node/property sequences are
  * exploded into columnar tables and duplicate keys resolved with a
  * deterministic last-write-wins aggregate (the reference's `INSERT OR
  * REPLACE`, database_writer.rb:46-61). At cluster scale each file is an
  * independent task input — no shared writer, no queue, no transaction
  * machinery; the atomic Spark job commit replaces batch commits.
  *
  * Parser semantics replicated from the reference (document_parser.rb):
  *  - only elements carrying an `id` attribute become rows (:26);
  *  - `node_type` / property names are namespace-local names (Nokogiri
  *    `Node#name` / `#attributes` behavior, asserted in
  *    test_edge_cases.rb:177-199);
  *  - `content` concatenates descendant text with whitespace-only text
  *    nodes dropped (the `noblanks` parse, :13), then strips; a text
  *    node ends at a tag or a processing instruction, not at a comment;
  *  - `xpath` carries positional predicates only where same-named
  *    siblings exist (libxml2 `Node#path`, test_basic_functionality
  *    .rb:137-146 asserts the index-free form);
  *  - `position` is the element's 0-based index among *element*
  *    siblings (:70-75), `parent_id` the immediate parent's id;
  *  - entity references are decoded and CDATA coalesced into text
  *    (test_edge_cases.rb:58-79,201-221); comments and processing
  *    instructions contribute nothing (:223-261);
  *  - a malformed file keeps everything before its first fatal error,
  *    with open elements auto-closed (the reference's recovering-Nokogiri
  *    behavior, test_edge_cases.rb:154-175); a file whose root element
  *    never opened, or that nests deeper than [[MaxDepth]], yields zero
  *    rows and never fails the job (async_processor.rb:58-64).
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
        val parser = newParser()
        files.flatMap { case (rawPath, length, bytes) =>
          val parsed = parseOne(rawPath, length, bytes, parser)
          if (parsed.isEmpty) failures.foreach(_.add(1L))
          parsed
        }
      }
  }

  /** The ingest parser: SAX, namespace-unaware, reading nothing outside
    * the file. The external DTD and external general and parameter
    * entities are off, and `ACCESS_EXTERNAL_*` is empty:
    * `load-external-dtd` alone still resolves `<!ENTITY x SYSTEM
    * "file:…">`, which would put a local file's bytes into
    * `nodes.content`; the reference's Nokogiri default does not
    * substitute external entities either. Build one per partition, not
    * per file: the factory's SPI lookup is the costly part. */
  def newParser(): SAXParser = {
    val factory = SAXParserFactory.newInstance()
    factory.setNamespaceAware(false)
    Seq("http://apache.org/xml/features/nonvalidating/load-external-dtd",
      "http://xml.org/sax/features/external-general-entities",
      "http://xml.org/sax/features/external-parameter-entities")
      .foreach(factory.setFeature(_, false))
    val parser = factory.newSAXParser()
    parser.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
    parser.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_SCHEMA, "")
    parser
  }

  /** Deepest element nesting a file may have, counting every element,
    * with or without an id; a deeper file yields zero rows. Every node
    * repeats its ancestors' xpath and its descendants' text, so a file's
    * output grows with the square of its depth. A fixed bound also
    * makes the skip decision the same on every thread and JVM. */
  private val MaxDepth = 1024

  /** Abandons a file nested deeper than [[MaxDepth]]. */
  private object TooDeep extends RuntimeException(null, null, false, false)

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

  private def localName(qname: String): String = {
    val i = qname.indexOf(':')
    if (i >= 0) qname.substring(i + 1) else qname
  }

  /** One element of the file being parsed. `textStart` is the length of
    * the file's text buffer at its start tag, so its content is the
    * buffer from there to its end tag. */
  private final class Elem(val parent: Elem, val qname: String,
      val id: String, val position: Int, val occurrence: Int,
      val textStart: Int) {
    var children = 0
    var content: String = _
    private var names: mutable.HashMap[String, Int] = _
    private var path: String = _

    /** Counts a new child named `qname`; returns its occurrence number
      * among its same-named siblings. */
    def adopt(qname: String): Int = {
      children += 1
      if (names == null) names = mutable.HashMap.empty
      val n = names.getOrElse(qname, 0) + 1
      names(qname) = n
      n
    }

    /** libxml2's `Node#path`: a `[n]` predicate only where the parent
      * has more than one child of this name, so it is read after the
      * parse, when every count is final. */
    def xpath: String = {
      if (path == null) path =
        if (parent == null) s"/$qname"
        else if (parent.names(qname) > 1)
          s"${parent.xpath}/$qname[$occurrence]"
        else s"${parent.xpath}/$qname"
      path
    }
  }

  /** The single pass over one file. Id-bearing elements are kept in
    * start-tag order with their properties; a property list is sorted by
    * qualified name, which decides which of two attributes with one
    * local name (`p:m`, `q:m`) survives the dedup in [[tables]]. */
  private final class Handler(docId: String) extends DefaultHandler {
    var root: Elem = _
    val nodes = mutable.ArrayBuffer.empty[Elem]
    val props = mutable.ArrayBuffer.empty[RawProperty]
    private var open: Elem = _
    private var depth = 0
    private val text = new java.lang.StringBuilder
    private val run = new java.lang.StringBuilder

    /** Ends the pending text run; a run that is all whitespace is
      * dropped (the `noblanks` parse). */
    private def flush(): Unit = {
      var i = 0
      while (i < run.length && run.charAt(i) <= ' ') i += 1
      if (i < run.length) text.append(run)
      run.setLength(0)
    }

    private def close(): Unit = {
      if (open.id != null) open.content = text.substring(open.textStart).trim
      open = open.parent
      depth -= 1
    }

    /** Closes the elements still open at the end of input or at the
      * first fatal error. */
    def finish(): Unit = {
      flush()
      while (open != null) close()
    }

    override def startElement(uri: String, local: String, qname: String,
        attrs: Attributes): Unit = {
      flush()
      depth += 1
      if (depth > MaxDepth) throw TooDeep
      val id = attrs.getValue("id")
      val e =
        if (open == null) new Elem(null, qname, id, 0, 1, text.length)
        else {
          val position = open.children
          new Elem(open, qname, id, position, open.adopt(qname), text.length)
        }
      if (id != null) {
        val ordinal = nodes.length.toLong
        nodes += e
        (0 until attrs.getLength)
          .map(i => attrs.getQName(i) -> attrs.getValue(i))
          .sortBy(_._1)
          .foreach { case (q, v) =>
            val name = localName(q)
            if (name != "id") props += RawProperty(id, name, v,
              TypeInference.inferType(v), docId, ordinal)
          }
      }
      if (root == null) root = e
      open = e
    }

    override def endElement(uri: String, local: String,
        qname: String): Unit = { flush(); close() }

    override def characters(ch: Array[Char], start: Int, len: Int): Unit =
      { run.append(ch, start, len); () }

    override def processingInstruction(target: String, data: String): Unit =
      flush()
  }

  /** Parse one file with a fresh parser; see the four-argument form. */
  def parseOne(rawPath: String, length: Long,
      bytes: Array[Byte]): Option[ParsedDocument] =
    parseOne(rawPath, length, bytes, newParser())

  /** Parse one file in one SAX pass with `parser` (from [[newParser]]).
    * At the first fatal error the pass stops and keeps what it has,
    * closing the elements still open (error-tolerant source S5 + the
    * reference's "process what it can" recovery, test_edge_cases.rb
    * :154-175). None when no root element ever opened, when the file
    * nests deeper than [[MaxDepth]], or when the parser fails otherwise:
    * the document row is then absent, like a file whose parse raised
    * before any rows were enqueued. */
  def parseOne(rawPath: String, length: Long, bytes: Array[Byte],
      parser: SAXParser): Option[ParsedDocument] = {
    val path = if (rawPath.startsWith("file:")) rawPath.stripPrefix("file:")
      else rawPath
    val base = path.substring(path.lastIndexOf('/') + 1)
    val docId = if (base.endsWith(".xml")) base.dropRight(4) else base
    try {
      parser.reset()
      val h = new Handler(docId)
      try parser.parse(new ByteArrayInputStream(bytes), h)
      catch {
        case _: org.xml.sax.SAXException | _: java.io.IOException => ()
      }
      h.finish()
      Option(h.root).map { _ =>
        val nodes = h.nodes.toSeq.zipWithIndex.map { case (e, ordinal) =>
          RawNode(e.id, localName(e.qname), docId,
            Option(e.parent).flatMap(p => Option(p.id)), e.position,
            Some(e.content), e.xpath, ordinal.toLong)
        }
        ParsedDocument(DocumentRow(docId, path, md5Hex(bytes), length),
          nodes, h.props.toSeq)
      }
    } catch { case _: Exception => None }
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
    // Three tables derive from one parse — cache the IR so the parse
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
    * wanted directly; the SAX pass of [[parse]] remains the
    * semantics-exact route to the property-graph tables. Schema
    * inference scans the data once — pass `schema` to skip that at
    * scale. */
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
