package graft

import graft.engine.Converter
import graft.queries.Recursion
import graft.relationships._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Relationship-adapter goldens mirrored from the reference's
  * test_relationship_detection.rb (cites inline). */
class AdapterSpec extends SparkSpec {
  import spark.implicits._

  /** Write an inline XML corpus to a temp dir and convert it. */
  private def convert(adapters: Seq[RelationshipAdapter],
      files: (String, String)*) = {
    val dir = tempDir("graft-adapter").toFile
    files.foreach { case (name, xml) =>
      Files.write(new java.io.File(dir, name).toPath, xml.getBytes(UTF_8))
    }
    new Converter(spark, adapters).convert(dir.getAbsolutePath)
  }

  private def pairs(df: DataFrame, refType: String): Set[(String, String)] =
    df.filter($"reference_type" === refType)
      .select($"source_node_id", $"target_node_id")
      .as[(String, String)].collect().toSet

  private val structuralXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<root id="root_node">
      |  <parent id="parent_1">
      |    <child id="child_1">Content 1</child>
      |    <child id="child_2">Content 2</child>
      |    <child id="child_3">Content 3</child>
      |  </parent>
      |  <parent id="parent_2">
      |    <child id="child_4">Content 4</child>
      |  </parent>
      |</root>""".stripMargin

  test("structural adapter: exact edge sets (:6-63)") {
    val t = convert(Seq(StructuralAdapter), "structural.xml" -> structuralXml)
    val x = t.crossReferences.cache()

    assert(pairs(x, "parent_child") === Set(
      ("parent_1", "child_1"), ("parent_1", "child_2"),
      ("parent_1", "child_3"), ("parent_2", "child_4"),
      ("root_node", "parent_1"), ("root_node", "parent_2")))
    assert(pairs(x, "child_parent") ===
      pairs(x, "parent_child").map(_.swap))

    val sib = pairs(x, "sibling")
    assert(sib.contains(("child_1", "child_2")))
    assert(sib.contains(("child_2", "child_1")))
    assert(sib.contains(("parent_1", "parent_2")))
    assert(sib.contains(("parent_2", "parent_1")))
    // full expected set: both directions of all pairs per parent group
    assert(sib === Set(
      ("child_1", "child_2"), ("child_2", "child_1"),
      ("child_1", "child_3"), ("child_3", "child_1"),
      ("child_2", "child_3"), ("child_3", "child_2"),
      ("parent_1", "parent_2"), ("parent_2", "parent_1")))

    assert(pairs(x, "next_sibling") === Set(
      ("child_1", "child_2"), ("child_2", "child_3"),
      ("parent_1", "parent_2")))
    assert(pairs(x, "previous_sibling") === Set(
      ("child_2", "child_1"), ("child_3", "child_2"),
      ("parent_2", "parent_1")))
    // all structural confidences are 1.0
    assert(x.filter($"confidence" =!= 1.0).count() === 0)
  }

  test("core adapters emit only core types (:148-185)") {
    val xml =
      """<?xml version="1.0"?><root id="root_node">
        |<book id="book_1" type="fiction"><title>Science Fiction Novel</title></book>
        |<book id="book_2" type="fiction"><title>Another Fiction Book</title></book>
        |<magazine id="mag_1" type="fiction"><title>Fiction Monthly</title></magazine>
        |</root>""".stripMargin
    val t = convert(Converter.coreAdapters, "core.xml" -> xml)
    val types = t.crossReferences.select($"reference_type").distinct()
      .as[String].collect().toSet
    val coreTypes = Set("child_parent", "next_sibling", "parent_child",
      "previous_sibling", "sibling", "attribute_reference")
    assert(types.subsetOf(coreTypes))
    assert(!types.contains("same_type") && !types.contains("content_similar"))
  }

  test("attribute references: exact edges + confidence math (:65-101,187-216)") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<library id="main_library">
        |  <author id="author_1" name="John Doe"/>
        |  <category id="cat_fiction" name="Fiction"/>
        |  <book id="book_1" author_id="author_1" category="cat_fiction" isbn="123456789">
        |    <title>Test Book</title>
        |  </book>
        |  <review id="review_1" book_ref="book_1" reviewer="author_1">
        |    <rating>5</rating>
        |  </review>
        |</library>""".stripMargin
    val t = convert(Seq(AttributeReferenceAdapter), "lib.xml" -> xml)
    val refs = t.crossReferences
      .filter($"reference_type" === "attribute_reference")
      .select($"source_node_id", $"target_node_id", $"attribute_name",
        $"confidence")
      .as[(String, String, String, Double)].collect().toSet
    // confidence: base 0.8 (+0.15 name indicator) (+0.05 prefix_value),
    // clamp 1.0 — attribute_reference_adapter.rb:65-78. Expected values
    // written as the same double arithmetic Ruby performs.
    assert(refs === Set(
      ("book_1", "author_1", "author_id", 1.0),
      ("book_1", "cat_fiction", "category", 0.8 + 0.05),
      ("review_1", "book_1", "book_ref", 1.0),
      ("review_1", "author_1", "reviewer", 0.8 + 0.05)))
  }

  test("confidence ranking: author_id above creator/writer (:187-216)") {
    val xml =
      """<?xml version="1.0"?><library id="main_library">
        |<author id="author_1"/>
        |<book id="book_1" author_id="author_1" creator="author_1" writer="author_1"/>
        |</library>""".stripMargin
    val t = convert(Seq(AttributeReferenceAdapter), "conf.xml" -> xml)
    val byAttr = t.crossReferences
      .filter($"reference_type" === "attribute_reference" &&
        $"source_node_id" === "book_1")
      .select($"attribute_name", $"confidence")
      .as[(String, Double)].collect().toMap
    assert(byAttr("author_id") > 0.8)
    assert(byAttr("creator") < byAttr("author_id"))
    assert(byAttr("writer") < byAttr("author_id"))
  }

  test("single-reference values only; multi-values ignored by core (:218-250)") {
    val xml =
      """<?xml version="1.0"?><library id="main_library">
        |<author id="author_1"/>
        |<category id="cat_1"/>
        |<book id="book_1" author_id="author_1" category="cat_1" authors="author_1,author_2" tags="cat_1 author_1"/>
        |</library>""".stripMargin
    val t = convert(Seq(AttributeReferenceAdapter), "single.xml" -> xml)
    val refs = t.crossReferences
      .filter($"reference_type" === "attribute_reference" &&
        $"source_node_id" === "book_1")
      .select($"target_node_id", $"attribute_name")
      .as[(String, String)].collect().toSet
    assert(refs === Set(("author_1", "author_id"), ("cat_1", "category")))
  }

  test("multi-reference adapter resolves delimited tokens (:301-340)") {
    val xml =
      """<?xml version="1.0"?><library id="main_library">
        |<author id="author_1"/>
        |<author id="author_2"/>
        |<category id="cat_1"/>
        |<book id="book_1" author_id="author_1" authors="author_1,author_2" tags="cat_1 author_1"/>
        |</library>""".stripMargin
    val t = convert(Seq(AttributeReferenceAdapter, MultiReferenceAdapter),
      "multi.xml" -> xml)
    val single = pairs(t.crossReferences, "attribute_reference")
    val multi = t.crossReferences
      .filter($"reference_type" === "multi_attribute_reference")
      .select($"target_node_id", $"attribute_name", $"confidence")
      .as[(String, String, Double)].collect().toSet
    assert(single.contains(("book_1", "author_1")))
    // confidence = (0.6 + 0.1[prefix_value]) * 0.8 for tokens like
    // author_1; attribute names here lack plural indicators
    // (multi_reference_adapter.rb:58,78-89) — same double arithmetic
    // as Ruby
    val c = (0.6 + 0.1) * 0.8
    assert(multi === Set(
      ("author_1", "authors", c), ("author_2", "authors", c),
      ("cat_1", "tags", c), ("author_1", "tags", c)))
  }

  test("semantic adapter: same_type and content_similar (:semantic_adapter.rb)") {
    val xml =
      """<?xml version="1.0"?><root id="r">
        |<book id="b1">quantum garden adventure</book>
        |<book id="b2">quantum garden adventure story</book>
        |<magazine id="m1">completely different words here</magazine>
        |</root>""".stripMargin
    val t = convert(Seq(SemanticAdapter), "sem.xml" -> xml)
    val same = pairs(t.crossReferences, "same_type")
    assert(same.contains(("b1", "b2")) && same.contains(("b2", "b1")))
    assert(!same.exists(p => p._1 == "m1" || p._2 == "m1"))
    val simEdges = t.crossReferences
      .filter($"reference_type" === "content_similar")
      .select($"source_node_id", $"target_node_id", $"confidence")
      .as[(String, String, Double)].collect()
    // Jaccard(b1,b2) = 3/4 = 0.75 ≥ 0.7; confidence = 0.75 * 0.5
    val b12 = simEdges.find(e => e._1 == "b1" && e._2 == "b2")
    assert(b12.isDefined)
    assert(math.abs(b12.get._3 - 0.375) < 1e-12)
    // root's content concatenates everything → Jaccard vs children < 0.7
    assert(simEdges.count(e => e._1 == "b1" || e._1 == "b2") >= 2)
  }

  test("LSH semantic variant: sketch-then-verify subset of exact edges") {
    val xml =
      """<?xml version="1.0"?><root id="r">
        |<book id="b1">the quantum garden adventure story begins here tonight</book>
        |<book id="b2">the quantum garden adventure story begins here tonight</book>
        |<book id="b3">the quantum garden adventure story begins here today</book>
        |<magazine id="m1">completely different words about cooking pasta dishes</magazine>
        |</root>""".stripMargin
    val exact = convert(Seq(SemanticAdapter), "lsh_a.xml" -> xml)
    val lsh = convert(Seq(SemanticLshAdapter), "lsh_b.xml" -> xml)
    def simEdges(df: DataFrame) = df
      .filter($"reference_type" === "content_similar")
      .select($"source_node_id", $"target_node_id", $"confidence")
      .as[(String, String, Double)].collect().toSet
    val exactEdges = simEdges(exact.crossReferences)
    val lshEdges = simEdges(lsh.crossReferences)
    // identical confidences where found; never a pair the exact
    // adapter would reject
    assert(lshEdges.subsetOf(exactEdges))
    // identical texts share every band — guaranteed recall
    assert(lshEdges.exists(e => e._1 == "b1" && e._2 == "b2" &&
      e._3 == 0.5))
    assert(lshEdges.exists(e => e._1 == "b2" && e._2 == "b1"))
    // the near-identical pair (one word differs) should also survive
    assert(lshEdges.exists(e => e._1 == "b1" && e._2 == "b3"))
    assert(!lshEdges.exists(e => e._1 == "m1" || e._2 == "m1"))
  }

  test("custom adapter interface (:342-388)") {
    val custom = new RelationshipAdapter {
      val name = "custom"
      def detect(nodes: DataFrame, properties: DataFrame): DataFrame =
        properties.filter($"property_name" === "special_ref")
          .select($"node_id".as("source_node_id"),
            $"property_value".as("target_node_id"),
            lit("custom_reference").as("reference_type"),
            lit("special_ref").as("attribute_name"),
            lit(0.9).as("confidence"))
    }
    val xml =
      """<?xml version="1.0"?><root id="root_node">
        |<item id="item_1" special_ref="item_2"/>
        |<item id="item_2"/>
        |</root>""".stripMargin
    val t = convert(Seq(custom), "custom.xml" -> xml)
    assert(pairs(t.crossReferences, "custom_reference") ===
      Set(("item_1", "item_2")))
  }

  test("relationship detection disabled → zero edges (:252-269)") {
    val xml =
      """<?xml version="1.0"?><root id="root_node"><child id="child_1">Content</child></root>"""
    val dir = tempDir("graft-disabled").toFile
    Files.write(new java.io.File(dir, "d.xml").toPath, xml.getBytes(UTF_8))
    val t = new Converter(spark, detectRelationships = false)
      .convert(dir.getAbsolutePath)
    assert(t.crossReferences.count() === 0)
  }

  test("sample_library: complex-document relationship counts (:271-299)") {
    val t = new Converter(spark, Converter.coreAdapters).convert(fixturesDir)
    val x = t.crossReferences.cache()
    assert(x.count() > 20)
    val bookCat = x.filter($"source_node_id".like("book_%") &&
      $"attribute_name" === "category" &&
      $"reference_type" === "attribute_reference").count()
    assert(bookCat >= 3)
    val reviewBook = x.filter($"source_node_id".like("review_%") &&
      $"attribute_name" === "book_id" &&
      $"reference_type" === "attribute_reference").count()
    assert(reviewBook >= 3)
    // subcategory → category via parent attr
    val subcat = pairs(x, "attribute_reference")
      .filter(p => p._1.startsWith("cat_") && p._2.startsWith("cat_"))
    assert(subcat === Set(
      ("cat_scifi", "cat_fiction"), ("cat_mystery", "cat_fiction"),
      ("cat_history", "cat_nonfiction"), ("cat_science", "cat_nonfiction")))
  }

  test("recursive ancestors over parent_child edges (:103-146)") {
    val xml =
      """<?xml version="1.0"?><root id="root_node">
        |<level1 id="level1_node"><level2 id="level2_node">
        |<level3 id="level3_node"><level4 id="level4_node">Deepest</level4>
        |</level3></level2></level1></root>""".stripMargin
    val t = convert(Seq(StructuralAdapter), "deep.xml" -> xml)
    val edges = t.crossReferences
      .filter($"reference_type" === "parent_child")
      .select($"source_node_id".as("src"), $"target_node_id".as("dst"))
    val seeds = spark.createDataset(Seq("level4_node")).toDF("node")
    val anc = Recursion.ascend(edges, seeds, maxDepth = 10)
      .filter($"depth" > 0)
      .select($"node", $"depth").as[(String, Int)].collect().sortBy(_._2)
    assert(anc.toSeq === Seq(
      ("level3_node", 1), ("level2_node", 2),
      ("level1_node", 3), ("root_node", 4)))
  }

  test("local walk matches the iterative loop, cycles and two parents included") {
    // branching DAG plus a cycle: the depth cap is the only terminator
    // on the a->b->c->a loop, so path multisets must agree exactly; e
    // has two parent_child parents (a and d), as a stranded upsert can
    // leave, so it is reached along two paths
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"),
      ("a", "e"), ("d", "e"))
    val edges = pairs.toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val down = Recursion.adjacency(pairs)
    val up = Recursion.adjacency(pairs.map(_.swap))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"node", $"depth", $"path").as[(String, Int, String)]
        .collect().toSeq.sorted
    def walked(adj: Map[String, Array[String]], prepend: Boolean) =
      Recursion.walk(adj, "a", 0, "a", 10, prepend).toSeq.sorted
    assert(walked(down, prepend = false) ===
      rows(Recursion.descend(edges, seeds, 10)))
    assert(walked(up, prepend = true) ===
      rows(Recursion.ascend(edges, seeds, 10)))
    assert(walked(down, prepend = false).count(_._1 == "e") > 1)
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.select($"descendant_id", $"ancestor_id", $"depth", $"path")
        .as[(String, String, Int, String)].collect().toSeq.sorted
    val paths = pairs.flatMap { case (s, d) => Recursion.edgePaths(up, s, d, 6) }
    assert(paths.sorted === prows(Recursion.ancestorPaths(edges, 6)))
  }

  test("native WITH RECURSIVE matches the iterative traversal") {
    val xml =
      """<?xml version="1.0"?><root id="root_node">
        |<level1 id="level1_node"><level2 id="level2_node">
        |<level3 id="level3_node"><level4 id="level4_node">Deepest</level4>
        |</level3></level2></level1></root>""".stripMargin
    val t = convert(Seq(StructuralAdapter), "deep2.xml" -> xml)
    t.crossReferences.createOrReplaceTempView("cross_references")
    val native = spark.sql(
      """WITH RECURSIVE ancestors(descendant_id, ancestor_id, depth) AS (
        |  SELECT target_node_id, source_node_id, 1
        |  FROM cross_references
        |  WHERE target_node_id = 'level4_node'
        |    AND reference_type = 'parent_child'
        |  UNION ALL
        |  SELECT a.descendant_id, cr.source_node_id, a.depth + 1
        |  FROM ancestors a
        |  JOIN cross_references cr ON a.ancestor_id = cr.target_node_id
        |  WHERE cr.reference_type = 'parent_child' AND a.depth < 10)
        |SELECT ancestor_id, depth FROM ancestors ORDER BY depth""".stripMargin)
      .as[(String, Int)].collect()
    assert(native.toSeq === Seq(
      ("level3_node", 1), ("level2_node", 2),
      ("level1_node", 3), ("root_node", 4)))
  }
}
