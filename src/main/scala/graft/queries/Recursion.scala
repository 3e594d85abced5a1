package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Depth-capped graph expansion — the engine's recursive-CTE workhorse
  * (SURVEY.md U2).
  *
  * The reference's traversal queries are SQLite `WITH RECURSIVE` over
  * the `cross_references` edge table with a depth guard and a string
  * path accumulator (examples/sql_queries.md:51-103). Spark 4.1 ships
  * native recursive CTEs (`UnionLoopExec`) for the SQL-text route —
  * exercised in the test suite. Two physical forms live here:
  *
  *  - [[walk]]/[[edgePaths]]/[[localRootDepths]]: plain-Scala walks
  *    over the collected parent structure, for the four `GraphQueries`
  *    hierarchy calls. One job collects the edges (or the
  *    `(id, parent_id)` pairs); the walk itself runs no Spark job.
  *  - [[descend]]/[[ascend]]/[[ancestorPaths]]: a bounded loop of
  *    equi-joins with an early exit on an empty frontier, each level
  *    checkpointed — the BFS-on-Spark shape with no driver-side row
  *    collection. `descend` serves `q21`; the three are also the
  *    references the specs compare the walks with.
  */
object Recursion {

  /** Expand `seeds` over `edges(src, dst)` up to `maxDepth` levels.
    *
    * Output columns: `node`, `depth` (0 for seeds), `path`
    * (" -> "-joined). Matches the descendants CTE shape
    * (sql_queries.md:79-103): a row at depth d joins the recursive arm
    * only while d < maxDepth.
    */
  def descend(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    expand(edges, seeds, maxDepth, prependPath = false)

  /** Ancestor variant: expand against reversed edges with the path
    * *prepended* ("ancestor -> …"), matching the ancestors CTE
    * (sql_queries.md:51-74: `source_node_id || ' -> ' || a.path`). */
  def ascend(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    expand(edges.select(col("dst").as("src"), col("src").as("dst")),
      seeds, maxDepth, prependPath = true)

  /** Ancestor-chain expansion carrying the origin row: for every seed
    * node, one output row per ancestor at each depth with the
    * ancestor→…→origin path — the `hierarchical_paths` view shape
    * (sql_queries.md:210-235: base depth 1 = `src -> dst` per
    * parent_child edge; recursive arm prepends the next ancestor). */
  def ancestorPaths(edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var frontier = e.select(col("dst").as("descendant_id"),
        col("src").as("ancestor_id"), lit(1).as("depth"),
        concat(col("src"), lit(" -> "), col("dst")).as("path"))
      .localCheckpoint()
    var acc = frontier
    var depth = 1
    while (depth < maxDepth && !frontier.isEmpty) {
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.ancestor_id") === col("e.dst"))
        .select(col("f.descendant_id"), col("e.src").as("ancestor_id"),
          (col("f.depth") + 1).as("depth"),
          concat(col("e.src"), lit(" -> "), col("f.path")).as("path"))
        .localCheckpoint()
      acc = acc.unionAll(next)
      frontier = next
      depth += 1
    }
    acc
  }

  /** `(from, to)` pairs as an adjacency: each non-null `from` maps to
    * its `to`s, one entry per pair, so a duplicated edge is walked
    * twice as a UNION ALL join meets it twice. */
  def adjacency(pairs: Iterable[(String, String)]): Map[String, Array[String]] =
    pairs.filter(_._1 != null).groupMap(_._1)(_._2)
      .map { case (k, v) => k -> v.toArray }

  /** The rows of a capped recursive CTE over `adjacency`, seeded with
    * one row `(node, depth, path)`: that row, then depth-first every row
    * the recursive arm derives from it, as `(node, depth, path)`. A row
    * at depth d expands only while d < `maxDepth`; a row whose node is
    * null never expands (a null never joins). Each step joins the next
    * node onto the path with " -> ", before it when `prependPath`
    * (ancestor walks), after it otherwise; a null on either side makes
    * the path null, as SQL's `||` does. Multiplicity is UNION ALL's: a
    * node reached by two paths is two rows, and a cycle is walked until
    * the cap. Lazy, so an executor can stream it. */
  def walk(adjacency: collection.Map[String, Array[String]], node: String,
      depth: Int, path: String, maxDepth: Int,
      prependPath: Boolean): Iterator[(String, Int, String)] = {
    def next = if (node == null || depth >= maxDepth) Iterator.empty
      else adjacency.getOrElse(node, Array.empty[String]).iterator
        .flatMap { n =>
          val p = if (prependPath) arrow(n, path) else arrow(path, n)
          walk(adjacency, n, depth + 1, p, maxDepth, prependPath)
        }
    Iterator.single((node, depth, path)) ++ next
  }

  /** The `hierarchical_paths` rows an edge `src -> dst` yields, as
    * `(descendant, ancestor, depth, path)`: the edge itself at depth 1,
    * then one row per ancestor reached over `up` (child -> parents),
    * each prepended to the path, up to `maxDepth`. */
  def edgePaths(up: collection.Map[String, Array[String]], src: String,
      dst: String, maxDepth: Int): Iterator[(String, String, Int, String)] =
    walk(up, src, 1, arrow(src, dst), maxDepth, prependPath = true)
      .map { case (a, d, p) => (dst, a, d, p) }

  /** `a -> b`, null if either side is. */
  def arrow(a: String, b: String): String =
    if (a == null || b == null) null else s"$a -> $b"

  /** Each node's level in a forest given as `(id, parent_id)` pairs,
    * roots (null parent) at 0 — the levels of the README's uncapped
    * node-tree CTE — by one memoized walk up the parent chains. A chain
    * that reaches a dangling `parent_id`, or comes back to a node
    * already on it (a parent cycle), leaves out every node on it, as the
    * uncapped CTE never reaches them. Each node is climbed past once. */
  def localRootDepths(parents: Iterable[(String, String)]): Map[String, Int] = {
    val parentOf = parents.filter(_._1 != null).toMap
    val out = -1 // the level of a node left out
    val level = mutable.HashMap.empty[String, Int]
    parentOf.keysIterator.foreach { start =>
      val chain = mutable.LinkedHashSet.empty[String]
      var node = start
      while (node != null && parentOf.contains(node) &&
          !level.contains(node) && !chain(node)) {
        chain += node
        node = parentOf(node)
      }
      // the chain's top hangs under a root's null parent, a settled
      // node, a dangling parent id, or a node on the chain (a cycle)
      val top =
        if (node == null) 0
        else if (level.getOrElse(node, out) != out) level(node) + 1
        else out
      chain.toSeq.reverseIterator.zipWithIndex.foreach { case (n, i) =>
        level(n) = if (top == out) out else top + i
      }
    }
    level.filter(_._2 != out).toMap
  }

  private def expand(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
      prependPath: Boolean): DataFrame = {
    // Materialize both inputs and truncate their lineage before
    // looping: each level otherwise re-analyzes the full upstream plan
    // (which for adapter-derived edge tables is a large union of
    // window/join pipelines), making plan-time grow with depth. After
    // truncation every level is a small join of two in-memory frames —
    // the standard BFS-on-Spark shape.
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var frontier = seeds.select(col("node"), lit(0).as("depth"),
      col("node").as("path")).localCheckpoint()
    var acc = frontier
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val stepPath =
        if (prependPath) concat(col("e.dst"), lit(" -> "), col("f.path"))
        else concat(col("f.path"), lit(" -> "), col("e.dst"))
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"),
          (col("f.depth") + 1).as("depth"), stepPath.as("path"))
        .localCheckpoint()
      acc = acc.unionAll(next)
      frontier = next
      depth += 1
    }
    acc
  }
}
