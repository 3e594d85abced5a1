package graft.queries

import graft.engine.GraphTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's declared query surface (layer L3, SURVEY.md §2) as
  * DataFrame programs over [[GraphTables]].
  *
  * Sources: README.md:127-162, examples/sql_queries.md, and the
  * executable corpus in test/test_sql_operations.rb — each method cites
  * its origin. These run natively on Spark instead of delegating to
  * SQLite's planner/VDBE (SURVEY.md §3.3); Catalyst supplies pushdown,
  * pruning and join selection, so no handwritten access-path logic
  * exists here.
  */
object GraphQueries {

  // --- basic scans & searches -----------------------------------

  /** README.md:131: `SELECT * FROM nodes WHERE node_type = …`. */
  def nodesByType(t: GraphTables, nodeType: String): DataFrame =
    t.nodes.filter(col("node_type") === nodeType)

  /** README.md:161: content LIKE search. */
  def contentSearch(t: GraphTables, term: String): DataFrame =
    t.nodes.filter(col("content").like(s"%$term%"))

  /** test_sql_operations.rb:199-215: xpath LIKE search. */
  def xpathSearch(t: GraphTables, pattern: String): DataFrame =
    t.nodes.filter(col("xpath").like(pattern)).orderBy(col("id"))

  /** README.md:150-156 / test_sql_operations.rb:66-94: nodes ⋈
    * properties filtered on one attribute (the flagship search). */
  def searchByAttribute(t: GraphTables, name: String,
      value: String): DataFrame = {
    val np = t.properties
      .filter(col("property_name") === name &&
        col("property_value") === value)
    t.nodes.join(np, t.nodes("id") === np("node_id"))
      .select(t.nodes("*"), np("property_value"))
  }

  /** test_sql_operations.rb:100-117: type + attribute-name join,
    * ordered by node id. */
  def propertiesOfType(t: GraphTables, nodeType: String,
      propertyName: String): DataFrame = {
    val n = t.nodes.filter(col("node_type") === nodeType)
    val np = t.properties.filter(col("property_name") === propertyName)
    n.join(np, n("id") === np("node_id"))
      .select(n("id"), n("node_type"), np("property_name"),
        np("property_value"))
      .orderBy(n("id"))
  }

  /** test_sql_operations.rb:141-155: EAV double self-join — nodes
    * having attr1=v1 AND an attr2 with a given inferred type. */
  def eavConjunction(t: GraphTables, name1: String, value1: String,
      name2: String, dataType2: String): DataFrame = {
    val np1 = t.properties
      .filter(col("property_name") === name1 &&
        col("property_value") === value1)
      .select(col("node_id").as("id1"))
    val np2 = t.properties
      .filter(col("property_name") === name2 &&
        col("data_type") === dataType2)
      .select(col("node_id").as("id2"))
    t.nodes.join(np1, t.nodes("id") === col("id1"))
      .join(np2, t.nodes("id") === col("id2"))
      .select(t.nodes("id"), t.nodes("node_type"))
      .distinct()
  }

  /** J14's pivot form: widen the EAV store into one row per node with
    * a column per requested property (`groupBy().pivot()` — the
    * schema-on-read counterpart of the multi-self-join, SURVEY.md
    * §7.4). Property list is explicit so the pivot needs no extra
    * distinct-values pass at scale. */
  def pivotProperties(t: GraphTables, propertyNames: Seq[String]): DataFrame =
    t.properties
      .filter(col("property_name").isin(propertyNames: _*))
      .groupBy(col("node_id"))
      .pivot("property_name", propertyNames)
      .agg(first(col("property_value")))

  /** test_sql_operations.rb:176-197: properties filtered by inferred
    * data type. */
  def propertiesByDataType(t: GraphTables, dataType: String): DataFrame =
    t.properties.filter(col("data_type") === dataType)
      .select(col("property_name"), col("property_value"), col("data_type"))
      .orderBy(col("property_name"), col("property_value"))

  // --- aggregations ---------------------------------------------

  /** test_sql_operations.rb:119-137 / main.rb:102: count per type. */
  def countByType(t: GraphTables): DataFrame =
    t.nodes.groupBy(col("node_type"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("node_type"))

  /** main.rb:124-132 / test_sql_operations.rb:217-233: corpus totals
    * with a scalar subquery (single-row cross join). */
  def statistics(t: GraphTables): DataFrame = {
    val n = t.nodes.agg(
      count(lit(1)).as("total_nodes"),
      countDistinct(col("node_type")).as("node_types"),
      countDistinct(col("document_id")).as("documents"))
    val x = t.crossReferences.agg(count(lit(1)).as("cross_refs"))
    n.crossJoin(x)
  }

  /** sql_queries.md:108-120: relationship summary by type. */
  def relationshipSummary(t: GraphTables): DataFrame =
    t.crossReferences.groupBy(col("reference_type"))
      .agg(
        count(lit(1)).as("total_count"),
        avg(col("confidence")).as("avg_confidence"),
        min(col("confidence")).as("min_confidence"),
        max(col("confidence")).as("max_confidence"),
        countDistinct(col("source_node_id")).as("unique_sources"),
        countDistinct(col("target_node_id")).as("unique_targets"))
      .orderBy(col("total_count").desc, col("reference_type"))

  // --- relationship navigation ----------------------------------

  /** sql_queries.md:8-27: all relationships of a node, with direction
    * tags (CASE projection). */
  def relationshipsOf(t: GraphTables, nodeId: String): DataFrame =
    t.crossReferences
      .filter(col("source_node_id") === nodeId ||
        col("target_node_id") === nodeId)
      .select(
        when(col("source_node_id") === nodeId, col("target_node_id"))
          .otherwise(col("source_node_id")).as("related_node"),
        col("reference_type"),
        when(col("source_node_id") === nodeId, "outgoing")
          .otherwise("incoming").as("direction"),
        col("confidence"))

  /** sql_queries.md:30-37: direct children via parent_child edges.
    * (The edge table is derived from `nodes`, so the join is aliased —
    * same lineage on both sides.) */
  def directChildren(t: GraphTables, nodeId: String): DataFrame =
    t.crossReferences.alias("cr")
      .filter(col("cr.source_node_id") === nodeId &&
        col("cr.reference_type") === "parent_child")
      .join(t.nodes.alias("n"), col("cr.target_node_id") === col("n.id"))
      .select(col("cr.target_node_id").as("child_id"), col("n.node_type"),
        col("n.content"))

  /** sql_queries.md:40-46: siblings via sibling edges. */
  def siblingsOf(t: GraphTables, nodeId: String): DataFrame =
    t.crossReferences.alias("cr")
      .filter(col("cr.source_node_id") === nodeId &&
        col("cr.reference_type") === "sibling")
      .join(t.nodes.alias("n"), col("cr.target_node_id") === col("n.id"))
      .select(col("cr.target_node_id").as("sibling_id"), col("n.node_type"),
        col("n.content"))

  /** sql_queries.md:178-190: incoming attribute references ranked by
    * confidence. */
  def referencesTo(t: GraphTables, nodeId: String): DataFrame =
    t.crossReferences.alias("cr")
      .filter(col("cr.target_node_id") === nodeId &&
        col("cr.reference_type") === "attribute_reference")
      .join(t.nodes.alias("n"), col("cr.source_node_id") === col("n.id"))
      .select(col("cr.source_node_id"), col("cr.attribute_name"),
        col("cr.confidence"), col("n.node_type"), col("n.content"))
      .orderBy(col("confidence").desc, col("source_node_id"))

  /** sql_queries.md:193-199: broken references — targets that resolve
    * to no node (left-anti join; dangling targets are by-design
    * representable, SURVEY.md §1.3). */
  def brokenReferences(t: GraphTables): DataFrame =
    t.crossReferences
      .join(t.nodes, t.crossReferences("target_node_id") === t.nodes("id"),
        "left_anti")
      .select(col("target_node_id").as("missing_node_id"))
      .distinct()

  /** sql_queries.md:123-141: per-node outgoing/incoming counts with
    * COALESCE 0. */
  def relationshipCounts(t: GraphTables): DataFrame = {
    val out = t.crossReferences.groupBy(col("source_node_id").as("out_id"))
      .agg(count(lit(1)).as("out_cnt"))
    val in_ = t.crossReferences.groupBy(col("target_node_id").as("in_id"))
      .agg(count(lit(1)).as("in_cnt"))
    t.nodes
      .join(out, t.nodes("id") === col("out_id"), "left_outer")
      .join(in_, t.nodes("id") === col("in_id"), "left_outer")
      .select(t.nodes("id"), t.nodes("node_type"),
        coalesce(col("out_cnt"), lit(0L)).as("outgoing_relationships"),
        coalesce(col("in_cnt"), lit(0L)).as("incoming_relationships"),
        (coalesce(col("out_cnt"), lit(0L)) +
          coalesce(col("in_cnt"), lit(0L))).as("total_relationships"))
      .orderBy(col("total_relationships").desc, col("id"))
  }

  /** sql_queries.md:144-156: most connected nodes. The documented SQL
    * is a disjunctive OR-join; Catalyst would plan that as a
    * nested-loop join, so it is rewritten as a union of the two
    * endpoint projections aggregated once — identical counts, one
    * shuffle (SURVEY.md J12/§4.3). */
  def mostConnected(t: GraphTables, k: Int = 10): DataFrame = {
    val endpoints = t.crossReferences.select(col("source_node_id").as("id"))
      .unionAll(t.crossReferences.select(col("target_node_id").as("id")))
    endpoints.groupBy(col("id")).agg(count(lit(1)).as("connection_count"))
      .join(t.nodes.select(col("id"), col("node_type"), col("content")),
        Seq("id"))
      .orderBy(col("connection_count").desc, col("id"))
      .limit(k)
  }

  /** sql_queries.md:159-174: bidirectional relationship pairs — self
    * join on swapped keys + type equality. The reference's
    * `LEFT JOIN … WHERE cr2.id IS NOT NULL` is an inner join that
    * projects `is_bidirectional` and repeats a row once per matching
    * reverse edge; that multiplicity is preserved here (a left_semi
    * would silently dedup when duplicate reverse edges exist). */
  def bidirectionalPairs(t: GraphTables): DataFrame = {
    val a = t.crossReferences.alias("a")
    val b = t.crossReferences.alias("b")
    a.join(b,
        col("a.source_node_id") === col("b.target_node_id") &&
          col("a.target_node_id") === col("b.source_node_id") &&
          col("a.reference_type") === col("b.reference_type"),
        "inner")
      .select(col("a.source_node_id").as("node1_id"),
        col("a.target_node_id").as("node2_id"),
        col("a.reference_type").as("reference_type"),
        col("a.confidence").as("confidence"),
        col("a.attribute_name").as("attribute_name"),
        lit(true).as("is_bidirectional"))
  }

  // --- recursive hierarchy --------------------------------------

  /** README.md:138-146: full tree with level, built over the
    * `nodes.parent_id` adjacency — seeds are parentless nodes. The
    * README CTE has no depth cap, so neither has this: the
    * `(id, parent_id)` pairs are collected (one job) and
    * [[Recursion.localRootDepths]] climbs the parent chains on the
    * driver; nodes whose chain never reaches a root are left out, as the
    * CTE leaves them out. Like the capped calls below, this holds the
    * whole parent structure on the driver: about one pair per node. */
  def nodeTree(t: GraphTables): DataFrame = {
    val spark = t.nodes.sparkSession
    import spark.implicits._
    val pairs = t.nodes.select(col("id"), col("parent_id"))
      .as[(String, String)].collect()
    val tree = Recursion.localRootDepths(pairs).toSeq.toDF("node", "level")
    tree.join(t.nodes, tree("node") === t.nodes("id"))
      .select(col("id"), col("node_type"), col("parent_id"), col("content"),
        col("level"))
      .orderBy(col("level"), col("id"))
  }

  /** sql_queries.md:51-74: ancestors of a node with depth and
    * prepended " -> " path, capped at depth 10. The CTE seeds with the
    * node itself (`SELECT DISTINCT`) when some parent_child edge
    * targets it; the walk runs on the driver over the collected edges,
    * and the answer is a local relation built there: one row per
    * upward path of at most 10 edges, each up to 11 ids, so at most 10
    * rows where every node has one parent. */
  def ancestors(t: GraphTables, nodeId: String): DataFrame = {
    val up = Recursion.adjacency(parentChildPairs(t).map(_.swap))
    t.crossReferences.sparkSession
      .createDataFrame(capped(up, nodeId, prependPath = true))
      .toDF("ancestor_id", "depth", "path").orderBy(col("depth"))
  }

  /** sql_queries.md:79-103: descendants with depth and appended path,
    * walked on the driver like [[ancestors]]. The answer is built there
    * too: one row per downward path of at most 10 edges, so about one
    * row per node within 10 levels of `nodeId` (more where a node has
    * two parents), each path up to 11 ids. For a document root that is
    * on the order of the document's node count — the same order as the
    * collected edge set, times the path length. */
  def descendants(t: GraphTables, nodeId: String): DataFrame = {
    val down = Recursion.adjacency(parentChildPairs(t))
    t.crossReferences.sparkSession
      .createDataFrame(capped(down, nodeId, prependPath = false))
      .toDF("descendant_id", "depth", "path")
      .orderBy(col("depth"), col("descendant_id"))
  }

  /** sql_queries.md:210-235: the `hierarchical_paths` view — every
    * (descendant, ancestor) pair with depth and the ancestor-to-
    * descendant chain, over parent_child edges, depth-capped at 10.
    * The answer is about ten rows per edge, so each edge row is walked
    * up on the executors; the reverse adjacency rides in the task
    * closure, shipped once per stage as a broadcast join's edges are. */
  def hierarchicalPaths(t: GraphTables): DataFrame = {
    val up = Recursion.adjacency(parentChildPairs(t).map(_.swap))
    val spark = t.crossReferences.sparkSession
    import spark.implicits._
    parentChildEdges(t).as[(String, String)]
      .flatMap { case (src, dst) => Recursion.edgePaths(up, src, dst, 10) }
      .toDF("descendant_id", "ancestor_id", "depth", "path")
      .orderBy(col("descendant_id"), col("depth"))
  }

  /** The capped CTE's rows past its seed: empty unless `nodeId` has an
    * edge in `adjacency`, as the CTE's seed comes from the edge table. */
  private def capped(adjacency: Map[String, Array[String]], nodeId: String,
      prependPath: Boolean): Seq[(String, Int, String)] =
    if (!adjacency.contains(nodeId)) Nil
    else Recursion.walk(adjacency, nodeId, 0, nodeId, 10, prependPath)
      .filter(_._2 > 0).toSeq

  private def parentChildEdges(t: GraphTables): DataFrame =
    t.crossReferences.filter(col("reference_type") === "parent_child")
      .select(col("source_node_id").as("src"),
        col("target_node_id").as("dst"))

  /** The parent_child edges as (source, target), collected: one job. */
  private def parentChildPairs(t: GraphTables): Seq[(String, String)] =
    parentChildEdges(t).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
}
