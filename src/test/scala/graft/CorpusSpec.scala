package graft

import graft.engine.{Converter, GraphTables}
import graft.queries.GraphQueries

/** Query-corpus goldens over the sample_library fixture — mirrors
  * test_sql_operations.rb (the reference's de-facto conformance suite)
  * plus the sql_queries.md relationship corpus. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  lazy val t: GraphTables = {
    val tables = new Converter(spark, Converter.coreAdapters)
      .convert(fixturesDir)
    GraphTables(tables.documents, tables.nodes.cache(),
      tables.properties.cache(), tables.crossReferences.cache())
  }

  // restrict to the library document (fixtures dir also has simple.xml,
  // matching the reference suite which converts only sample_library)
  def lib(df: org.apache.spark.sql.DataFrame) =
    df.filter($"document_id" === "sample_library")

  test("find nodes by type (:17-33)") {
    assert(lib(GraphQueries.nodesByType(t, "book")).as[
      (String, String, String, Option[String], Int, Option[String], String,
        java.sql.Timestamp)].collect().map(_._1).toSet ===
      Set("book_1", "book_2", "book_3"))
    assert(lib(GraphQueries.nodesByType(t, "author")).count() === 3)
    assert(lib(GraphQueries.nodesByType(t, "category")).count() === 2)
  }

  test("hierarchical node tree with levels (:35-64)") {
    val tree = GraphQueries.nodeTree(t)
      .filter($"id".isin("main_library", "books", "book_1", "author_1",
        "tag_scifi"))
      .select($"id", $"level").as[(String, Int)].collect().toMap
    assert(tree("main_library") === 0)
    assert(tree("books") === 1)
    assert(tree("book_1") === 2)
    assert(tree("author_1") === 3)
    // tags carries no id, so tag_* are parentless roots (level 0) —
    // the same rows SQLite's CTE seeds with parent_id IS NULL
    assert(tree("tag_scifi") === 0)
  }

  test("search nodes by attribute — flagship (:66-94)") {
    val r = GraphQueries.searchByAttribute(t, "category", "cat_fiction")
    val rows = r.select($"id", $"node_type", $"property_value")
      .as[(String, String, String)].collect()
    assert(rows.toSeq === Seq(("book_1", "book", "cat_fiction")))
    val isbn = GraphQueries.searchByAttribute(t, "isbn", "978-0-123456-47-2")
      .select($"id").as[String].collect()
    assert(isbn.toSeq === Seq("book_1"))
  }

  test("join type + attribute: ordered isbns (:100-117)") {
    val isbns = GraphQueries.propertiesOfType(t, "book", "isbn")
      .select($"property_value").as[String].collect()
    assert(isbns.toSeq === Seq("978-0-123456-47-2", "978-0-987654-32-1",
      "978-0-555555-55-5"))
  }

  test("aggregate: count by type (:119-137)") {
    val counts = GraphQueries.countByType(t)
      .as[(String, Long)].collect().toMap
    assert(counts("book") === 3)
    assert(counts("author") === 3)
    assert(counts("category") === 2)
    assert(counts("tag") === 9)
    assert(counts.size > 5)
  }

  test("EAV conjunction filtering (:139-155)") {
    val r = GraphQueries.eavConjunction(t, "category", "cat_fiction",
      "published", "datetime").as[(String, String)].collect()
    assert(r.toSeq === Seq(("book_1", "book")))
  }

  test("parent-child pairing via self-join (:157-174)") {
    val pairs = t.nodes.as("parent")
      .join(t.nodes.as("child"),
        $"child.parent_id" === $"parent.id")
      .filter($"parent.node_type" === "book")
      .select($"parent.id", $"child.id")
      .as[(String, String)].collect().toSet
    assert(pairs.contains(("book_1", "author_1")))
    assert(pairs.contains(("book_1", "tag_scifi")) === false)
  }

  test("data-type filtering (:176-197)") {
    val rows = GraphQueries.propertiesByDataType(t, "integer")
      .as[(String, String, String)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 == "integer"))
    assert(rows.exists(r => r._1 == "year" || r._1 == "pages"))
    // rating + year are the integer-valued attributes of the library
    assert(rows.map(_._1).toSet === Set("rating", "year", "count", "depth"))
  }

  test("xpath LIKE search (:199-215)") {
    val rows = GraphQueries.xpathSearch(t, "%book%")
      .select($"id", $"xpath").as[(String, String)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2.contains("book")))
    assert(rows.exists(_._1 == "tag_scifi"))
  }

  test("statistics with scalar subquery (:217-233)") {
    val s = GraphQueries.statistics(t)
      .as[(Long, Long, Long, Long)].collect().head
    assert(s._1 === 40) // 36 library + 4 simple
    assert(s._2 > 5)
    assert(s._3 === 2)
    assert(s._4 > s._1) // more edges than nodes
  }

  test("relationship summary by type (sql_queries.md:108-120)") {
    val rows = GraphQueries.relationshipSummary(t)
      .select($"reference_type", $"total_count").as[(String, Long)]
      .collect().toMap
    assert(rows.keySet === Set("parent_child", "child_parent", "sibling",
      "next_sibling", "previous_sibling", "attribute_reference"))
    assert(rows("parent_child") === rows("child_parent"))
  }

  test("relationships of a node with direction (sql_queries.md:8-27)") {
    val rels = GraphQueries.relationshipsOf(t, "book_1")
      .select($"related_node", $"direction").as[(String, String)]
      .collect().toSet
    assert(rels.contains(("cat_fiction", "outgoing"))) // category attr
    assert(rels.contains(("review_1", "incoming"))) // review_1 book_id
    assert(rels.contains(("books", "outgoing"))) // child_parent edge
  }

  test("direct children / siblings (sql_queries.md:30-46)") {
    val children = GraphQueries.directChildren(t, "books")
      .select($"child_id").as[String].collect().toSet
    assert(children === Set("book_1", "book_2", "book_3"))
    val sibs = GraphQueries.siblingsOf(t, "book_2")
      .select($"sibling_id").as[String].collect().toSet
    assert(sibs === Set("book_1", "book_3"))
  }

  test("ancestors traversal (sql_queries.md:51-74)") {
    val anc = GraphQueries.ancestors(t, "reviewer_1")
      .select($"ancestor_id", $"depth").as[(String, Int)].collect()
    assert(anc.toSeq === Seq(("review_1", 1), ("reviews", 2),
      ("main_library", 3)))
  }

  test("descendants traversal (sql_queries.md:79-103)") {
    val d = GraphQueries.descendants(t, "books")
      .select($"descendant_id", $"depth").as[(String, Int)].collect()
    val byDepth = d.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byDepth(1) === Set("book_1", "book_2", "book_3"))
    // awards/tags carry no id, so the identified grandchildren are the
    // authors only
    assert(byDepth(2) === Set("author_1", "author_2", "author_3"))
    assert(!byDepth.contains(3))
  }

  test("hierarchical_paths view: all ancestor chains (sql_queries.md:210-235)") {
    val paths = GraphQueries.hierarchicalPaths(t)
      .filter($"descendant_id" === "reviewer_1")
      .select($"ancestor_id", $"depth", $"path")
      .as[(String, Int, String)].collect()
    assert(paths.toSeq === Seq(
      ("review_1", 1, "review_1 -> reviewer_1"),
      ("reviews", 2, "reviews -> review_1 -> reviewer_1"),
      ("main_library", 3,
        "main_library -> reviews -> review_1 -> reviewer_1")))
    // every node with a parent appears at depth 1
    val d1 = GraphQueries.hierarchicalPaths(t).filter($"depth" === 1).count()
    assert(d1 === t.nodes.filter($"parent_id".isNotNull).count())
  }

  test("broken references: single-shot conversion cannot dangle (sql_queries.md:193-199)") {
    // By construction: adapters detect over the FINAL node set (the
    // reference also runs detection after all writes,
    // relationship_processor.rb:20-39), so every target resolves.
    assert(GraphQueries.brokenReferences(t).count() === 0)
  }

  test("broken references: incremental upsert strands edges to an evicted node (sql_queries.md:193-199, 001_create_base_schema.rb:40-48)") {
    val up = graft.queries.XmlQueries.upsertTables(spark)
    // The patch's pamphlet_1 takes book_1's (books, position 0) slot —
    // the UNIQUE(parent_id, position) INSERT OR REPLACE eviction — so
    // book_1 is gone from nodes while the base conversion's edges to it
    // persist (no FK on target_node_id, by design).
    assert(up.nodes.filter($"id" === "book_1").count() === 0)
    assert(up.nodes.filter($"id" === "pamphlet_1").count() === 1)
    val missing = GraphQueries.brokenReferences(up)
      .as[String].collect().toSet
    assert(missing === Set("book_1"))
    // The stranded rows include the review attribute references at
    // their original confidence 1.0 (book_id matches the identifier
    // indicators) — the exact rows the base corpus asserted live.
    val stranded = up.crossReferences
      .filter($"target_node_id" === "book_1" &&
        $"reference_type" === "attribute_reference")
      .select($"source_node_id", $"confidence")
      .as[(String, Double)].collect().toSet
    assert(stranded === Set(("review_1", 1.0), ("review_2", 1.0)))
  }

  test("relationship counts with COALESCE (sql_queries.md:123-141)") {
    val counts = GraphQueries.relationshipCounts(t)
      .filter($"id" === "location_1")
      .select($"outgoing_relationships", $"incoming_relationships")
      .as[(Long, Long)].collect().head
    // location_1: child_parent out-edge; parent_child in-edge from
    // lib_metadata; no siblings (only element child of metadata)
    assert(counts === ((1L, 1L)))
  }

  test("most connected nodes top-k (sql_queries.md:144-156)") {
    val top = GraphQueries.mostConnected(t, 5)
      .select($"id", $"connection_count").as[(String, Long)].collect()
    assert(top.length === 5)
    // monotone non-increasing
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("bidirectional pairs include siblings (sql_queries.md:159-174)") {
    val pairs = GraphQueries.bidirectionalPairs(t)
      .select($"node1_id", $"node2_id", $"reference_type")
      .as[(String, String, String)].collect().toSet
    assert(pairs.contains(("book_1", "book_2", "sibling")))
    assert(pairs.contains(("book_2", "book_1", "sibling")))
    // parent_child is one-directional
    assert(!pairs.exists(_._3 == "parent_child"))
  }

  test("EAV pivot form widens properties into columns (SURVEY §7.4)") {
    val wide = GraphQueries.pivotProperties(t,
      Seq("isbn", "category", "published"))
      .filter($"node_id".startsWith("book_"))
      .orderBy($"node_id")
      .as[(String, String, String, String)].collect()
    assert(wide.length === 3)
    val b1 = wide.find(_._1 == "book_1").get
    assert(b1._2 === "978-0-123456-47-2")
    assert(b1._3 === "cat_fiction")
    assert(b1._4 === "2021-03-15")
  }

  test("the reference's SQL text runs verbatim over the registered views") {
    t.createViews()
    // test_sql_operations.rb:119-126 (ORDER BY count DESC), parameters
    // inlined
    val counts = spark.sql(
      """SELECT node_type, COUNT(*) as count
        |FROM nodes
        |GROUP BY node_type
        |ORDER BY count DESC""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("book") === 3 && counts("author") === 3)
    // test_sql_operations.rb:68-73: the flagship attribute search
    val flagship = spark.sql(
      """SELECT n.*, np.property_value
        |FROM nodes n
        |JOIN node_properties np ON n.id = np.node_id
        |WHERE np.property_name = 'category' AND np.property_value = 'cat_fiction'""".stripMargin)
      .collect()
    assert(flagship.length === 1)
    assert(flagship.head.getString(0) === "book_1")
    // sql_queries.md:108-120: relationship summary
    val summary = spark.sql(
      """SELECT
        |  reference_type,
        |  COUNT(*) as total_count,
        |  AVG(confidence) as avg_confidence,
        |  MIN(confidence) as min_confidence,
        |  MAX(confidence) as max_confidence,
        |  COUNT(DISTINCT source_node_id) as unique_sources,
        |  COUNT(DISTINCT target_node_id) as unique_targets
        |FROM cross_references
        |GROUP BY reference_type
        |ORDER BY total_count DESC""".stripMargin)
      .collect().map(_.getString(0))
    assert(summary.contains("sibling") && summary.contains("parent_child"))
    // README.md:138-146: the node_tree recursive CTE, verbatim
    val tree = spark.sql(
      """WITH RECURSIVE node_tree AS (
        |  SELECT id, node_type, parent_id, content, 0 as level
        |  FROM nodes WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT n.id, n.node_type, n.parent_id, n.content, nt.level + 1
        |  FROM nodes n
        |  JOIN node_tree nt ON n.parent_id = nt.id
        |)
        |SELECT * FROM node_tree ORDER BY level, id""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getInt(4)).toMap
    assert(tree("main_library") === 0 && tree("book_1") === 2)
  }

  test("content search LIKE (README.md:161)") {
    val hits = GraphQueries.contentSearch(t, "quantum")
      .select($"id").as[String].collect().toSet
    assert(hits.contains("book_1"))
  }

  test("a missing fixtures root fails pointedly, naming GRAFT_FIXTURES") {
    // round-20 (ADVICE): a bad override otherwise surfaces as a bare
    // file-source error deep inside the conversion with no hint which
    // env var moves it
    val e = intercept[IllegalArgumentException] {
      graft.queries.XmlQueries.requireFixturesDir(
        "/no/such/fixtures/root", "GRAFT_FIXTURES")
    }
    assert(e.getMessage.contains("GRAFT_FIXTURES"))
    assert(e.getMessage.contains("/no/such/fixtures/root"))
    // the happy path returns the path unchanged
    assert(graft.queries.XmlQueries.requireFixturesDir(
      graft.queries.XmlQueries.fixturesDir, "GRAFT_FIXTURES") ===
      graft.queries.XmlQueries.fixturesDir)
  }

  /** Tables of an XML directory written from `files` (name → text),
    * relationship detection off: `nodeTree` reads `nodes` only. */
  def treeTables(files: (String, String)*): GraphTables = {
    val in = tempDir("graft-tree")
    files.foreach { case (name, xml) =>
      java.nio.file.Files.write(in.resolve(name), xml.getBytes("UTF-8"))
    }
    new Converter(spark, Nil, detectRelationships = false).convert(in.toString)
  }

  /** A chain of `levels` id-bearing `c` elements, each with a leaf. */
  def chainXml(levels: Int): String =
    (0 until levels).map(k => s"""<c id="c$k"><leaf id="l$k">t$k</leaf>""")
      .mkString + "</c>" * levels

  /** The README.md:138-146 `node_tree` CTE, verbatim but for the table
    * name, run by Spark over `t.nodes`. */
  def cteTree(t: GraphTables): Seq[(String, String, String, String, Int)] = {
    t.nodes.createOrReplaceTempView("tree_nodes")
    spark.sql(
      """WITH RECURSIVE node_tree AS (
        |  SELECT id, node_type, parent_id, content, 0 as level
        |  FROM tree_nodes WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT n.id, n.node_type, n.parent_id, n.content, nt.level + 1
        |  FROM tree_nodes n
        |  JOIN node_tree nt ON n.parent_id = nt.id
        |)
        |SELECT * FROM node_tree ORDER BY level, id""".stripMargin)
      .as[(String, String, String, String, Int)].collect().toSeq
  }

  def engineTree(t: GraphTables): Seq[(String, String, String, String, Int)] =
    GraphQueries.nodeTree(t).as[(String, String, String, String, Int)]
      .collect().toSeq

  test("node tree has no depth cap: 231 chain levels, O(log depth) jobs") {
    val t = treeTables("deep.xml" -> chainXml(231))
    val (rows, jobs) = jobsDuring(engineTree(t))
    val levels = rows.map(r => r._1 -> r._5).toMap
    assert(rows.size === 2 * 231)
    assert((0 until 231).forall(k =>
      levels(s"c$k") === k && levels(s"l$k") === k + 1))
    // a join per level would run at least one job per level
    assert(jobs < 60, s"$jobs jobs")
  }

  test("node tree equals Spark's WITH RECURSIVE node_tree over 64 levels") {
    val t = treeTables("deep.xml" -> chainXml(64))
    val expected = cteTree(t)
    assert(expected.size === 128)
    assert(engineTree(t) === expected)
  }

  test("node tree leaves out parent cycles and dangling parents") {
    val t = treeTables(
      // within-file duplicate ids, last write wins: A -> B -> A
      "cycle.xml" -> """<A id="A"><B id="B"><A id="A"><B id="B"/></A></B></A>""",
      // d2's b takes slot (r, 0) from a, leaving k's parent missing
      "d1.xml" -> """<r id="r"><a id="a"><k id="k"/></a></r>""",
      "d2.xml" -> """<r id="r"><b id="b"/></r>""")
    val parents = t.nodes.select($"id", $"parent_id")
      .as[(String, Option[String])].collect().toMap
    assert(parents === Map("A" -> Some("B"), "B" -> Some("A"),
      "r" -> None, "b" -> Some("r"), "k" -> Some("a")))
    val tree = engineTree(t)
    assert(tree.map(r => r._1 -> r._5) === Seq("r" -> 0, "b" -> 1))
    assert(tree === cteTree(t))
  }

  test("capped traversals submit at most 4 jobs each") {
    t.crossReferences.count() // fills the fixture's cache beforehand
    // building the frame collects the edges, so it runs inside the count
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ancestors" -> (() => GraphQueries.ancestors(t, "reviewer_1")),
      "descendants" -> (() => GraphQueries.descendants(t, "books")),
      "hierarchicalPaths" -> (() => GraphQueries.hierarchicalPaths(t)))
    calls.foreach { case (name, call) =>
      val (_, jobs) = jobsDuring(call().collect())
      assert(jobs <= 4, s"$name: $jobs jobs")
    }
  }
}
