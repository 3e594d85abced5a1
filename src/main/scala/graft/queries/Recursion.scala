package graft.queries

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph, Pregel, VertexId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Depth-capped iterative graph expansion — the engine's recursive-CTE
  * workhorse (SURVEY.md U2).
  *
  * The reference's traversal queries are SQLite `WITH RECURSIVE` over
  * the `cross_references` edge table with a depth guard and a string
  * path accumulator (examples/sql_queries.md:51-103). Spark 4.1 ships
  * native recursive CTEs (`UnionLoopExec`) for the SQL-text route —
  * exercised in the test suite — but the DataFrame-level API here keeps
  * the traversal a first-class, composable operator: a bounded loop of
  * broadcast-friendly equi-joins with an early exit on an empty
  * frontier. Each level is one shuffle keyed by the join key; the
  * frontier is cached and released level by level, so at cluster scale
  * this is the standard BFS-on-Spark pattern (no driver-side row
  * collection — only an `isEmpty` probe per level).
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

  /** Statically unrolled expansion — the right physical shape when the
    * depth cap is small and known (every reference CTE caps at 10,
    * sql_queries.md:72,100,233): build all `maxDepth` join levels as
    * one declarative plan and run a single Spark job, exactly what a
    * bounded recursive CTE compiles to. No per-level checkpoints or
    * emptiness probes means no per-level job-scheduling barriers — on
    * small/medium graphs this is ~10× cheaper than the iterative
    * form; levels past the true depth join an empty frontier and cost
    * nothing at runtime. The edge side carries a broadcast hint so
    * every level reuses one broadcast exchange. For unbounded or deep
    * recursion over edge sets too large to broadcast, use [[descend]]/
    * [[ascend]] (checkpointed loop, early exit) instead. */
  def descendUnrolled(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame =
    expandUnrolled(edges, seeds, maxDepth, prependPath = false)

  /** Unrolled ancestor variant of [[ascend]]. */
  def ascendUnrolled(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame =
    expandUnrolled(edges.select(col("dst").as("src"), col("src").as("dst")),
      seeds, maxDepth, prependPath = true)

  /** Unrolled [[ancestorPaths]] — same output, single job. */
  def ancestorPathsUnrolled(edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = broadcast(edges.select(col("src"), col("dst")))
    val base = e.select(col("dst").as("descendant_id"),
      col("src").as("ancestor_id"), lit(1).as("depth"),
      concat(col("src"), lit(" -> "), col("dst")).as("path"))
    var levels = List(base)
    var frontier = base
    (2 to maxDepth).foreach { _ =>
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.ancestor_id") === col("e.dst"))
        .select(col("f.descendant_id"), col("e.src").as("ancestor_id"),
          (col("f.depth") + 1).as("depth"),
          concat(col("e.src"), lit(" -> "), col("f.path")).as("path"))
      levels ::= next
      frontier = next
    }
    levels.reverse.reduce(_ unionAll _)
  }

  private def expandUnrolled(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int, prependPath: Boolean): DataFrame = {
    val e = broadcast(edges.select(col("src"), col("dst")))
    val base = seeds.select(col("node"), lit(0).as("depth"),
      col("node").as("path"))
    var levels = List(base)
    var frontier = base
    (1 to maxDepth).foreach { _ =>
      val stepPath =
        if (prependPath) concat(col("e.dst"), lit(" -> "), col("f.path"))
        else concat(col("f.path"), lit(" -> "), col("e.dst"))
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"),
          (col("f.depth") + 1).as("depth"), stepPath.as("path"))
      levels ::= next
      frontier = next
    }
    levels.reverse.reduce(_ unionAll _)
  }

  /** Distance to the root for every node of a forest given as
    * `(id, parent_id)` rows, roots having a null `parent_id` — the
    * levels of an uncapped `WITH RECURSIVE` descent from the roots
    * (README.md:138-146), by pointer doubling rather than one join per
    * level. Each pending node holds an (ancestor, distance) pair; every
    * round replaces its ancestor by that ancestor's own, so the jump
    * doubles and a chain of depth d settles in about log2(d) rounds. A
    * node settles when its ancestor has a depth (its depth = distance +
    * that depth) and drops out when its ancestor is no node at all (a
    * dangling `parent_id`). While some pending chain still ends at a
    * root or a dangling parent, every round settles or drops at least
    * one node; so the loop stops at the first round that changes
    * nothing, and the nodes still pending, on or under a parent cycle,
    * are left out, as the CTE leaves them out. Output: (node, depth),
    * roots at 0; `id` must be unique, as the nodes PK is. */
  def rootDepths(parents: DataFrame): DataFrame = {
    val p = parents.select(col("id"), col("parent_id"))
    var resolved = p.filter(col("parent_id").isNull)
      .select(col("id").as("node"), lit(0).as("depth"))
    var pending = p.filter(col("parent_id").isNotNull)
      .select(col("id").as("node"), col("parent_id").as("anc"),
        lit(1).as("dist"))
    var left = Long.MaxValue // pending rows, counted from round one on
    var progressed = true
    while (left > 0 && progressed) {
      // a resolved ancestor ends the walk (no next hop); a pending one
      // passes on its own ancestor and distance
      val hop = resolved.select(col("node").as("via"),
          lit(null).cast("string").as("next"), col("depth").as("d"))
        .unionAll(pending.select(col("node").as("via"),
          col("anc").as("next"), col("dist").as("d")))
      // lazy: the count below is the one action that fills it
      val step = pending.join(hop, col("anc") === col("via"))
        .select(col("node"), col("next"), (col("dist") + col("d")).as("dist"))
        .localCheckpoint(eager = false)
      resolved = resolved.unionAll(step.filter(col("next").isNull)
        .select(col("node"), col("dist").as("depth")))
      pending = step.filter(col("next").isNotNull)
        .select(col("node"), col("next").as("anc"), col("dist"))
      // one job; Dataset.count would add a shuffle stage
      val now = pending.rdd.count()
      progressed = now < left
      left = now
    }
    resolved
  }

  /** Min-depth reachability via GraphX Pregel — the 100 TB form of
    * [[descend]]. The CTE semantics enumerate every path (output grows
    * with path count, which explodes on dense graphs); at corpus scale
    * the question is usually "which nodes are reachable, how deep",
    * and that is a vertex program: messages carry candidate depths,
    * vertices keep the minimum, iteration stops at `maxDepth`.
    * Output: (node, depth) with depth = shortest distance from any
    * seed, seeds at 0. */
  def descendDepthsPregel(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).as[(String, String)]
    val seedSet = seeds.select(col("node")).as[String]
    // sorted zipWithIndex: the name→id mapping is deterministic under
    // recomputation, so no cache (and no leak) is needed
    val ids = e.flatMap(p => Seq(p._1, p._2)).union(seedSet).distinct()
      .rdd.sortBy(identity).zipWithIndex()
    val idOf = ids.map(_.swap)
    val seedIds: Set[VertexId] = seedSet.rdd.map(_ -> (())).join(ids)
      .map { case (_, (_, vid)) => vid }.collect().toSet
    val vertices = ids.map { case (_, vid) =>
      (vid: VertexId, if (seedIds(vid)) 0 else Int.MaxValue)
    }
    val edgeRdd = e.rdd
      .map(p => (p._1, p._2)).join(ids)
      .map { case (_, (dst, srcId)) => (dst, srcId) }.join(ids)
      .map { case (_, (srcId, dstId)) => Edge(srcId, dstId, ()) }
    val graph = Graph(vertices, edgeRdd)
    val result = Pregel(graph, initialMsg = Int.MaxValue,
      maxIterations = maxDepth, activeDirection = EdgeDirection.Out)(
      vprog = (_, attr, msg) => math.min(attr, msg),
      sendMsg = t =>
        if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1))
        else Iterator.empty,
      mergeMsg = math.min)
    // same block-release discipline as Dedup.componentClusters: GraphX
    // leaves the input and result graphs cached — materialize the
    // small depth table, then free them so repeated calls in one
    // session don't accumulate blocks
    val out = result.vertices
      .join(idOf)
      .map { case (_, (depth, name)) => (name, depth) }
      .toDF("node", "depth")
      .filter(col("depth") <= maxDepth)
      .localCheckpoint(true)
    result.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    out
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
