package graft

import graft.ingest.{TypeInference, XmlIngest}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Ingest goldens mirrored from the reference's Minitest suites
  * (test_basic_functionality.rb, test_edge_cases.rb) — cites inline. */
class IngestSpec extends SparkSpec {
  import IngestSpec.Tree

  private def parseString(name: String, xml: String) = {
    val bytes = xml.getBytes(UTF_8)
    XmlIngest.parseOne(s"/tmp/$name", bytes.length.toLong, bytes)
  }

  // --- simple.xml goldens (test_basic_functionality.rb:60-117) ---

  lazy val simple = parseString("simple.xml", new String(
    Files.readAllBytes(Paths.get(s"$fixturesDir/simple.xml")), UTF_8)).get

  test("simple.xml: 4 identified nodes with exact rows") {
    assert(simple.nodes.map(_.id).toSet ===
      Set("root_element", "child_1", "child_2", "nested_1"))
    val byId = simple.nodes.map(n => n.id -> n).toMap
    val c1 = byId("child_1")
    assert(c1.node_type === "child")
    assert(c1.parent_id === Some("root_element"))
    assert(c1.position === 0)
    assert(c1.content === Some("Hello World"))
    val c2 = byId("child_2")
    assert(c2.position === 1)
    // element.text concatenates descendant text; the noblanks parse
    // drops the inter-element whitespace-only nodes entirely
    // (document_parser.rb:13,48)
    assert(c2.content === Some("Another elementNested content"))
    val n1 = byId("nested_1")
    assert(n1.parent_id === Some("child_2"))
    assert(n1.node_type === "nested")
    assert(n1.content === Some("Nested content"))
    val root = byId("root_element")
    assert(root.parent_id === None)
    assert(root.position === 0)
  }

  test("simple.xml: xpath uses positional predicates only when ambiguous") {
    val byId = simple.nodes.map(n => n.id -> n.xpath).toMap
    assert(byId("root_element") === "/root")
    assert(byId("child_1") === "/root/child[1]")
    assert(byId("child_2") === "/root/child[2]")
    assert(byId("nested_1") === "/root/child[2]/nested")
  }

  test("simple.xml: properties exclude id, carry inferred types") {
    val props = simple.properties.map(p =>
      (p.node_id, p.property_name, p.property_value, p.data_type)).toSet
    assert(props === Set(
      ("child_1", "type", "simple", "string"),
      ("child_1", "count", "5", "integer"),
      ("child_2", "type", "complex", "string"),
      ("child_2", "count", "10", "integer"),
      ("child_2", "active", "true", "boolean"),
      ("nested_1", "depth", "2", "integer")))
  }

  // --- type inference matrix (test_basic_functionality.rb:176-211,
  //     test_edge_cases.rb:81-128) ---

  test("type inference goldens") {
    val expected = Map(
      "42" -> "integer", "19.99" -> "float", "true" -> "boolean",
      "TRUE" -> "boolean", "false" -> "boolean",
      "2023-01-15" -> "datetime", "14:30:00" -> "datetime",
      "" -> "string", "nil" -> "string", "hello world" -> "string",
      "value with spaces" -> "string", "3.14" -> "float",
      (null: String) -> "string")
    expected.foreach { case (v, t) =>
      assert(TypeInference.inferType(v) === t, s"value <$v>")
    }
  }

  test("type inference: column expression agrees with pure function") {
    import spark.implicits._
    val vals = Seq("42", "19.99", "true", "False", "2023-01-15",
      "14:30:00", "", "nil", "a b", "9.99.9", "007", "12:34:56 pm")
    val got = vals.toDF("v")
      .select(TypeInference.inferTypeCol($"v")).as[String].collect()
    assert(got.toSeq === vals.map(TypeInference.inferType))
  }

  test("type inference: precedence properties hold for arbitrary strings") {
    val prop = Prop.forAll(org.scalacheck.Gen.asciiPrintableStr) { s =>
      val t = TypeInference.inferType(s)
      val classOk = Set("string", "integer", "float", "boolean", "datetime")(t)
      val intOk = !s.matches("\\d+") || s.isEmpty || t == "integer"
      val floatOk = !s.matches("\\d+\\.\\d+") || t == "float"
      classOk && intOk && floatOk
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  // --- edge cases (test_edge_cases.rb) ---

  test("no-id elements produce zero rows (:19-36)") {
    val p = parseString("noid.xml",
      """<?xml version="1.0"?><root><child>a</child><child>b</child></root>""").get
    assert(p.nodes.isEmpty && p.properties.isEmpty)
  }

  test("empty root still yields its node (:6-17)") {
    val p = parseString("empty.xml",
      """<?xml version="1.0"?><root id="empty_root"></root>""").get
    assert(p.nodes.map(_.id) === Seq("empty_root"))
    assert(p.nodes.head.content === Some(""))
  }

  test("escaped entities are decoded (:58-79)") {
    val p = parseString("ent.xml",
      """<?xml version="1.0"?><root id="r"><item id="item_1" attr="&lt;&gt;&amp;&quot;&apos;">Content with &lt;&gt;&amp;</item></root>""").get
    val prop = p.properties.find(_.node_id == "item_1").get
    assert(prop.property_value === "<>&\"'")
    assert(p.nodes.find(_.id == "item_1").get.content ===
      Some("Content with <>&"))
  }

  test("CDATA contributes to content (:201-221)") {
    val p = parseString("cdata.xml",
      """<?xml version="1.0"?><root id="r"><item id="item_1"><![CDATA[This is CDATA content with <tags> and & symbols]]></item></root>""").get
    assert(p.nodes.find(_.id == "item_1").get.content.get
      .contains("CDATA content"))
  }

  test("comments and processing instructions are ignored (:223-261)") {
    val p = parseString("pi.xml",
      """<?xml version="1.0"?><?xml-stylesheet type="text/xsl" href="s.xsl"?><root id="r"><!-- c --><item id="i">Content</item><!-- d --></root>""").get
    assert(p.nodes.map(_.id).toSet === Set("r", "i"))
    assert(p.nodes.find(_.id == "r").get.content === Some("Content"))
  }

  test("namespaced elements and attributes use local names (:177-199)") {
    val p = parseString("ns.xml",
      """<?xml version="1.0"?><root xmlns:ns="http://example.com/ns" id="ns_root"><ns:item id="ns_item_1" ns:attr="value">Namespace content</ns:item><item id="regular_item" attr="value">Regular content</item></root>""").get
    assert(p.nodes.map(_.id).toSet ===
      Set("ns_root", "ns_item_1", "regular_item"))
    assert(p.nodes.find(_.id == "ns_item_1").get.node_type === "item")
    assert(p.properties.find(_.node_id == "ns_item_1").get
      .property_name === "attr")
  }

  test("malformed XML salvages the parseable prefix (:154-175)") {
    // The reference's exact fixture: Nokogiri's recovering parse keeps
    // root/item_1/item_2 (unclosed items nest, then auto-close);
    // `broken` carries no id so it never becomes a node either way.
    val p = parseString("bad.xml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<root id="malformed_root">
        |  <item id="item_1">Content
        |  <item id="item_2">Unclosed item
        |  <broken>No closing tag
        |</root>""".stripMargin).get
    assert(p.nodes.map(_.id) === Seq("malformed_root", "item_1", "item_2"))
    // unclosed elements nest: item_2 is a child of item_1
    assert(p.nodes.find(_.id == "item_2").get.parent_id === Some("item_1"))
    assert(p.nodes.find(_.id == "item_2").get.content
      .exists(_.startsWith("Unclosed item")))
  }

  test("unsalvageable XML yields zero rows, not a failure (:154-175)") {
    assert(parseString("junk.xml", "not xml at all").isEmpty)
    assert(parseString("empty.xml", "").isEmpty)
    // prefix before the root tag ever opens: nothing to salvage
    assert(parseString("noroot.xml", "<?xml version=\"1.0\"?><&&").isEmpty)
  }

  test("a salvaged truncated file keeps structure+text before the cut") {
    // Text sitting exactly at the EOF cut may not have been delivered
    // by the parser before the fatal error, so only content strictly
    // before the truncation point is guaranteed.
    val p = parseString("trunc.xml",
      "<root id=\"r\"><item id=\"a\">kept text<item id=\"b\">tail").get
    assert(p.nodes.map(_.id) === Seq("r", "a", "b"))
    assert(p.nodes.find(_.id == "a").get.content
      .exists(_.startsWith("kept text")))
  }

  test("a truncated file is salvaged without printing parser errors") {
    val bytes = "<root id=\"r\"><item id=\"a\">kept<item id=\"b\">tail"
      .getBytes(UTF_8)
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val p = try XmlIngest.parseOne("/tmp/cut.xml", bytes.length.toLong, bytes)
      finally System.setErr(saved)
    assert(p.get.nodes.map(_.id) === Seq("r", "a", "b"))
    assert(err.toString("UTF-8") === "")
  }

  test("large document: 1001 nodes, 1000 properties (:130-152)") {
    val items = (1 to 1000)
      .map(i => s"""<item id="item_$i" value="$i">Content $i</item>""")
      .mkString
    val p = parseString("large.xml",
      s"""<?xml version="1.0"?><root id="large_root">$items</root>""").get
    assert(p.nodes.length === 1001)
    assert(p.properties.length === 1000)
    assert(p.nodes.find(_.id == "item_500").get.position === 499)
    assert(p.nodes.find(_.id == "item_500").get.xpath === "/root/item[500]")
  }

  // --- distributed table semantics ---

  test("duplicate ids: last write wins (:38-56)") {
    import spark.implicits._
    val xml =
      """<?xml version="1.0"?><root id="duplicate_root"><child id="duplicate_id">First</child><child id="duplicate_id">Second</child></root>"""
    val parsed = Seq(parseString("dup.xml", xml).get).toDS()
    val t = XmlIngest.tables(parsed)
    val rows = t.nodes.filter($"id" === "duplicate_id").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("content") === "Second")
    // UNIQUE(parent_id, position) also holds after dedup of distinct ids
    assert(t.nodes.groupBy($"parent_id", $"position").count()
      .filter($"count" > 1 && $"parent_id".isNotNull).count() === 0)
  }

  test("parser never throws on arbitrary bytes (fuzz)") {
    val prop = Prop.forAll(org.scalacheck.Gen.containerOf[Array, Byte](
      org.scalacheck.Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes =>
      // any byte soup must yield Some(parse) or None — never an
      // exception escaping parseOne (the S5 contract)
      val r = XmlIngest.parseOne("/tmp/fuzz.xml", bytes.length.toLong, bytes)
      r.isEmpty || r.nonEmpty
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200),
      prop).passed)
  }

  // --- generated trees (scalacheck) ---

  private def genTree(depth: Int): Gen[Tree] = for {
    name <- Gen.oneOf("a", "b", "p:c")
    hasId <- Gen.prob(0.7)
    n <- Gen.choose(0, if (depth >= 4) 0 else 4)
    kids <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.oneOf("t", " \n ", "x &amp; y").map(Left(_)),
      2 -> Gen.lzy(genTree(depth + 1)).map(Right(_))))
  } yield Tree(name, hasId, kids)

  /** The tree as XML with ids `n1, n2, …` in document order, and the
    * rows the parse must give: (id, parent_id, position, xpath). */
  private def render(t: Tree)
      : (String, Seq[(String, Option[String], Int, String)]) = {
    val sb = new StringBuilder
    val rows = Seq.newBuilder[(String, Option[String], Int, String)]
    var ids = 0
    def go(t: Tree, parentId: Option[String], position: Int,
        xpath: String): Unit = {
      val id = if (t.hasId) { ids += 1; Some(s"n$ids") } else None
      sb.append('<').append(t.name)
      id.foreach(i => sb.append(s""" id="$i""""))
      sb.append('>')
      id.foreach(i => rows += ((i, parentId, position, xpath)))
      val elems = t.kids.collect { case Right(c) => c }
      val seen = scala.collection.mutable.Map.empty[String, Int]
      var elementIndex = 0
      t.kids.foreach {
        case Left(text) => sb.append(text)
        case Right(c) =>
          val occ = seen.getOrElse(c.name, 0) + 1
          seen(c.name) = occ
          val seg = if (elems.count(_.name == c.name) > 1) s"${c.name}[$occ]"
            else c.name
          go(c, id, elementIndex, s"$xpath/$seg")
          elementIndex += 1
      }
      sb.append("</").append(t.name).append('>')
    }
    go(t, None, 0, s"/${t.name}")
    (sb.toString, rows.result())
  }

  test("generated trees: ids once, immediate parent, sibling position, xpath predicates") {
    val prop = Prop.forAll(genTree(0)) { t =>
      val (xml, expected) = render(t)
      val got = parseString("gen.xml", xml).get.nodes
        .map(n => (n.id, n.parent_id, n.position, n.xpath))
      got === expected
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("generated trees: every truncation parses to a subset of the ids") {
    val parser = XmlIngest.newParser()
    val prop = Prop.forAll(genTree(0)) { t =>
      val bytes = render(t)._1.getBytes(UTF_8)
      val full = XmlIngest.parseOne("/tmp/gen.xml", bytes.length.toLong,
        bytes, parser).get.nodes.map(_.id).toSet
      (0 until bytes.length).forall { cut =>
        val prefix = bytes.take(cut)
        XmlIngest.parseOne("/tmp/gen.xml", cut.toLong, prefix, parser)
          .forall(_.nodes.map(_.id).toSet.subsetOf(full))
      }
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  private def chain(depth: Int, id: Int => String): String = {
    val sb = new StringBuilder("""<?xml version="1.0"?>""")
    (0 until depth).foreach(i => sb.append(s"<n${id(i)}>"))
    sb.append("x")
    (0 until depth).foreach(_ => sb.append("</n>"))
    sb.toString
  }

  test("pathologically deep nesting skips the file instead of failing") {
    // the parse stops at the depth bound, so a 60000-level file costs
    // no more than a 1025-level one
    assert(parseString("deep.xml", chain(60000, i => s" id='d$i'")).isEmpty)
  }

  test("nesting is bounded at 1024 levels, counting every element") {
    val deepest = parseString("d1024.xml", chain(1024, i => s" id='d$i'")).get
    assert(deepest.nodes.length === 1024)
    assert(deepest.nodes.last.parent_id === Some("d1022"))
    assert(deepest.nodes.last.content === Some("x"))
    assert(parseString("d1025.xml", chain(1025, i => s" id='d$i'")).isEmpty)
    // no-id wrappers count too: one id element over 2000 bare levels
    assert(parseString("wrapped.xml",
      chain(2001, i => if (i == 0) " id='top'" else "")).isEmpty)
  }

  test("strict and salvaged parses agree on text around processing instructions") {
    // a whitespace run between two processing instructions is its own
    // text node and dropped, whether or not a fatal error follows
    val doc = "<r id='r'>a<?p?> \n <?q?>b</r>"
    Seq(doc, doc + "<").foreach { xml =>
      assert(parseString("pi.xml", xml).get.nodes.map(_.content) ===
        Seq(Some("ab")), xml)
    }
  }

  test("encoded documents honor their XML declaration (UTF-16)") {
    val xml = "<?xml version=\"1.0\" encoding=\"UTF-16\"?>" +
      "<root id=\"enc_root\"><item id=\"enc_1\" name=\"naïve café\">Déjà vu</item></root>"
    val bytes = xml.getBytes(java.nio.charset.StandardCharsets.UTF_16)
    val p = XmlIngest.parseOne("/tmp/enc.xml", bytes.length.toLong, bytes).get
    assert(p.nodes.map(_.id).toSet === Set("enc_root", "enc_1"))
    assert(p.nodes.find(_.id == "enc_1").get.content === Some("Déjà vu"))
    assert(p.properties.head.property_value === "naïve café")
  }

  test("UNIQUE(parent_id, position) replaces across files like the reference") {
    import spark.implicits._
    // both files put a child at (parent g, position 0); the reference's
    // INSERT OR REPLACE against UNIQUE(parent_id, position)
    // (001_create_base_schema.rb:29) keeps only the last-written one
    val fileA =
      """<?xml version="1.0"?><group id="g"><item id="a1">first</item></group>"""
    val fileB =
      """<?xml version="1.0"?><group id="g"><item id="a2">second</item></group>"""
    val parsed = Seq(
      parseString("a.xml", fileA).get, parseString("b.xml", fileB).get)
      .toDS()
    val t = XmlIngest.tables(parsed)
    val children = t.nodes.filter($"parent_id" === "g")
      .select($"id").as[String].collect()
    assert(children.toSeq === Seq("a2")) // last filename wins
    // the colliding g node itself dedups on id, keeping one row
    assert(t.nodes.filter($"id" === "g").count() === 1)
  }

  test("double-conflict interleaving: set-based replacement is pinned") {
    import spark.implicits._
    // Arrival order (filename asc): A@(g,0) → B@(g,0) → B@(g,1).
    // SQLite's row-at-a-time INSERT OR REPLACE would end with only
    // B@(g,1) (the middle arrival deletes A via UNIQUE, then is itself
    // replaced via PK). The engine's set-based dedup keeps A: it is the
    // last id-survivor occupying (g,0). This divergence is intentional
    // (order-independent, scale-stable) — documented at the dedup site
    // in XmlIngest.tables.
    val fileA =
      """<?xml version="1.0"?><group id="g"><item id="A">one</item></group>"""
    val fileB =
      """<?xml version="1.0"?><group id="g"><item id="B">two</item></group>"""
    val fileC =
      """<?xml version="1.0"?><group id="g"><pad/><item id="B">three</item></group>"""
    val parsed = Seq(parseString("a.xml", fileA).get,
      parseString("b.xml", fileB).get, parseString("c.xml", fileC).get)
      .toDS()
    val t = XmlIngest.tables(parsed)
    val children = t.nodes.filter($"parent_id" === "g")
      .select($"id", $"position", $"content")
      .as[(String, Int, String)].collect().sortBy(_._2)
    assert(children.toSeq === Seq(("A", 0, "one"), ("B", 1, "three")))
  }

  test("external entities are never read into the tables") {
    // a local file the XML names through a SYSTEM entity: once in a
    // well-formed file, once in a truncated one (whose parse stops at the
    // cut), and once through a parameter entity
    val marker = "SECRET_MARKER_4f1c"
    val secret = tempFile("graft-secret", ".txt")
    Files.write(secret, marker.getBytes(UTF_8))
    val uri = secret.toUri.toString
    val in = tempDir("graft-xxe")
    def put(name: String, xml: String) =
      Files.write(in.resolve(name), xml.getBytes(UTF_8))
    put("general.xml", s"""<?xml version="1.0"?>
      |<!DOCTYPE r [<!ENTITY x SYSTEM "$uri">]>
      |<r id="g_root"><a id="g_a">before &x; after</a></r>""".stripMargin)
    put("salvaged.xml", s"""<?xml version="1.0"?>
      |<!DOCTYPE r [<!ENTITY x SYSTEM "$uri">]>
      |<r id="s_root"><a id="s_a">&x;</a><b id="s_b">cut""".stripMargin)
    put("parameter.xml", s"""<?xml version="1.0"?>
      |<!DOCTYPE r [<!ENTITY % p SYSTEM "$uri"> %p;]>
      |<r id="p_root">text</r>""".stripMargin)
    val t = new graft.engine.Converter(spark).convert(in.toString)
    Seq(t.documents, t.nodes, t.properties, t.crossReferences).foreach { df =>
      val leaked = df.collect().flatMap(_.toSeq)
        .filter(v => v != null && v.toString.contains(marker))
      assert(leaked.isEmpty, df.columns.mkString(","))
    }
    assert(t.nodes.select("id").collect().map(_.getString(0)).toSet ===
      Set("g_root", "g_a", "s_root", "s_a", "s_b", "p_root"))
  }

  test("end-to-end directory ingest of bundled fixtures") {
    import spark.implicits._
    val t = XmlIngest.ingest(spark, fixturesDir)
    val docs = t.documents
      .as[(String, String, String, Long, java.sql.Timestamp)]
      .collect()
    assert(docs.map(_._1).toSet === Set("simple", "sample_library"))
    // documents golden (test_basic_functionality.rb:49-53): filename is
    // the full path, file_size the on-disk byte size; file_hash (a
    // column the reference schema declares but never populates,
    // 001_create_base_schema.rb:14) is the md5 of the file bytes
    val simpleDoc = docs.find(_._1 == "simple").get
    assert(simpleDoc._2.endsWith("/simple.xml"))
    val simpleBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixturesDir/simple.xml"))
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(simpleBytes).map(b => f"${b & 0xff}%02x").mkString
    assert(simpleDoc._3 === expectedMd5)
    assert(simpleDoc._3.matches("[0-9a-f]{32}"))
    assert(simpleDoc._4 ===
      new java.io.File(s"$fixturesDir/simple.xml").length())
    assert(t.nodes.filter($"document_id" === "sample_library").count() === 36)
    val sl = t.nodes.filter($"document_id" === "sample_library")
    assert(sl.filter($"node_type" === "book").count() === 3)
    assert(sl.filter($"node_type" === "tag").count() === 9)
    // flagship search golden (README.md:150-156, test_sql_operations
    // .rb:66-80): nodes joined to properties on category=cat_fiction
    val props = t.properties
    val hits = props
      .filter($"property_name" === "category" &&
        $"property_value" === "cat_fiction")
      .join(t.nodes, props("node_id") === t.nodes("id"))
      .select($"id").as[String].collect()
    assert(hits.toSet === Set("book_1"))
  }

  test("widened rowTag read agrees with the node model on the same corpus") {
    import spark.implicits._
    val wide = XmlIngest.widenedRead(spark, fixturesDir, "book")
    // one row per <book>, attributes as _-prefixed columns
    assert(wide.count() === 3)
    assert(wide.columns.contains("_id") && wide.columns.contains("title"))
    val wideIds = wide.select($"_id").as[String].collect().toSet
    val nodeIds = XmlIngest.ingest(spark, fixturesDir).nodes
      .filter($"node_type" === "book")
      .select($"id").as[String].collect().toSet
    assert(wideIds === nodeIds)
    // explicit schema skips inference and projects only what's asked
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("title",
        org.apache.spark.sql.types.StringType)))
    val narrow = XmlIngest.widenedRead(spark, fixturesDir, "book",
      Some(schema))
    assert(narrow.columns.toSeq === Seq("_id", "title"))
    assert(narrow.count() === 3)
  }
}

object IngestSpec {

  /** A generated element: its name, whether it carries an id, and its
    * children, each text or an element. */
  final case class Tree(name: String, hasId: Boolean,
      kids: List[Either[String, Tree]])
}
