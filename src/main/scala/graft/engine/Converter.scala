package graft.engine

import graft.ingest.XmlIngest
import graft.model.Schemas
import graft.relationships._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** The four public tables of the property-graph model. `caches` are the
  * cached intermediates the tables derive from but do not expose (the
  * ingest parse cache); [[GraphTables.unpersist]] releases them too. */
final case class GraphTables(documents: DataFrame, nodes: DataFrame,
    properties: DataFrame, crossReferences: DataFrame,
    caches: Seq[Dataset[_]] = Nil) {

  /** Register SQL-accessible temp views (the working version of the
    * reference's vestigial `create_views`, main.rb:100-107). Views
    * register in the session that owns these DataFrames. */
  def createViews(): Unit = {
    documents.createOrReplaceTempView("documents")
    nodes.createOrReplaceTempView("nodes")
    properties.createOrReplaceTempView("node_properties")
    crossReferences.createOrReplaceTempView("cross_references")
  }

  /** One view per node_type (`<type>_nodes`) — the per-type views the
    * reference enumerates but leaves commented out (main.rb:100-107).
    * Type names are sanitized to identifier characters; types whose
    * sanitized names collide (e.g. `my-item` / `my.item`) share one
    * view covering all of them, so no rows become unreachable.
    * Returns the distinct view names. */
  def createNodeTypeViews(): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val types = nodes.select(col("node_type")).distinct()
      .collect().map(_.getString(0)).filter(_ != null)
    types.groupBy(t =>
        t.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase + "_nodes")
      .toSeq.sortBy(_._1)
      .map { case (name, ts) =>
        nodes.filter(col("node_type").isin(ts.toIndexedSeq: _*))
          .createOrReplaceTempView(name)
        name
      }
  }

  /** Persist as partitioned parquet — the columnar replacement for the
    * SQLite file (no sqlite-jdbc resolvable offline; capability, not
    * byte format, is the target — SURVEY.md S6). Nodes cluster by
    * `node_type` so type-filtered scans prune files at read time.
    *
    *  - Every table is zstd-compressed. The codec is fixed here rather
    *    than taken from `spark.sql.parquet.compression.codec`, so other
    *    parquet writes in the session keep the session's codec.
    *  - Each `cross_references` file is sorted by
    *    `(source_node_id, target_node_id)` (a sort within partitions, no
    *    shuffle). The sibling edges of a wide element then sit next to
    *    each other, and zstd stores them in about half the bytes.
    *  - The four table writes are submitted at once from a pool of four
    *    threads created for this call. Fresh threads inherit the
    *    caller's Spark local properties (job group, scheduler pool), so
    *    the jobs are charged as if the caller had run them.
    *  - The call returns only after every write has ended. If any write
    *    failed it then throws the first failure, in table order; the
    *    other tables may have been written. */
  def write(outDir: String): Unit = {
    def parquet(df: DataFrame) =
      df.write.mode("overwrite").option("compression", "zstd")
    val writes: Seq[() => Unit] = Seq(
      () => parquet(documents).parquet(s"$outDir/documents"),
      () => parquet(nodes).partitionBy("node_type").parquet(s"$outDir/nodes"),
      () => parquet(properties).parquet(s"$outDir/node_properties"),
      () => parquet(crossReferences
          .sortWithinPartitions("source_node_id", "target_node_id"))
        .parquet(s"$outDir/cross_references"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    try {
      val pending = writes.map(w => pool.submit(new Runnable {
        def run(): Unit = w()
      }))
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}

object GraphTables {
  /** Release any caches backing these tables (the converter caches
    * nodes/properties for adapter reuse, and ingest caches the parsed
    * documents; call this when done with a conversion in a long-lived
    * session). */
  def unpersist(t: GraphTables): Unit = {
    t.documents.unpersist()
    t.nodes.unpersist()
    t.properties.unpersist()
    t.crossReferences.unpersist()
    t.caches.foreach(_.unpersist())
  }

  /** The nodes schema in its on-disk order: [[write]] partitions by
    * `node_type`, and a partition column reads back last. */
  private val storedNodes: StructType = StructType(
    Schemas.nodes.filterNot(_.name == "node_type") :+ Schemas.nodes("node_type"))

  /** Reload previously written tables. Each table opens with its
    * [[graft.model.Schemas]] schema instead of an inferred one:
    * inference runs one Spark job per table, and it types the
    * `node_type` partition column as a double when every directory name
    * parses as one (`node_type=NaN`, `node_type=Infinity`). Opening
    * only lists the files, so a missing table still fails here, while
    * files written with another schema fail when a query scans them.
    * The listing runs on the driver, with no Spark job, unless `nodes`
    * has more `node_type` directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32). */
  def read(spark: SparkSession, dir: String): GraphTables = {
    def table(name: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$dir/$name")
    GraphTables(
      table("documents", Schemas.documents),
      table("nodes", storedNodes),
      table("node_properties", Schemas.nodeProperties),
      table("cross_references", Schemas.crossReferences))
  }
}

/** End-to-end XML directory → property-graph tables.
  *
  * The Spark-native counterpart of the reference's `XMLToSQLite` CLI
  * object (/root/reference/main.rb:27-57): scan → parse → explode →
  * dedup replaces the fiber pipeline; the adapter list is the same
  * configuration surface the reference exposes
  * (main.rb:109-115, examples/custom_main.rb:10-42), defaulting to the
  * two core adapters. The whole run is two Spark jobs (ingest,
  * relationship derivation) — transactions, WAL, queues and VACUUM all
  * dissolve into immutable DataFrames + atomic job commits
  * (SURVEY.md §3.1, §4.2).
  */
class Converter(
    spark: SparkSession,
    adapters: Seq[RelationshipAdapter] = Converter.coreAdapters,
    detectRelationships: Boolean = true,
    parseFailures: Option[org.apache.spark.util.LongAccumulator] = None) {

  def convert(inputDir: String): GraphTables = {
    val t = XmlIngest.ingest(spark, inputDir, parseFailures)
    // Ingest tables feed every adapter and the final write; cache once.
    val nodes = t.nodes.cache()
    val properties = t.properties.cache()
    val xrefs =
      if (detectRelationships)
        RelationshipAdapter.detectAll(adapters, nodes, properties)
      else
        RelationshipAdapter.detectAll(Nil, nodes, properties)
    GraphTables(t.documents, nodes, properties, xrefs, t.caches)
  }

  def convertAndWrite(inputDir: String, outDir: String): GraphTables = {
    val tables = convert(inputDir)
    tables.write(outDir)
    tables
  }

  /** Re-conversion into an existing database — the reference's
    * incremental path: a second run against a db that already holds a
    * conversion (main.rb opens the SQLite file in place; every write is
    * INSERT OR REPLACE, database_writer.rb:47-59, with foreign_keys OFF
    * during the write phase, main.rb:87). Merge semantics:
    *
    *  - documents / nodes / properties: the new batch wins on each
    *    table's replace keys — nodes on PK `id` and then
    *    UNIQUE(parent_id, position), so a patch node can EVICT a
    *    previous batch's node that occupied its sibling slot
    *    (001_create_base_schema.rb:29).
    *  - cross_references: previous rows are never replaced (the table's
    *    synthetic autoincrement PK means INSERT OR REPLACE never
    *    conflicts); detection re-runs over ALL documents against the
    *    merged final state (relationship_processor.rb:20-39 iterates
    *    the whole documents table) and appends. The engine keeps set
    *    semantics — a re-detected edge equal to a previous row dedups —
    *    where the reference accumulates byte-identical rows under fresh
    *    synthetic ids, an autoincrement artifact its own corpus queries
    *    paper over with DISTINCT.
    *
    * This is the one path that can strand a reference: a previous
    * batch's edge whose target node the new batch evicted keeps its
    * row. That is by design — the schema deliberately puts no FK on
    * target_node_id (001_create_base_schema.rb:40-48) and ships a
    * broken-references health check for exactly this state
    * (sql_queries.md:193-199). Detection input properties are scoped to
    * surviving nodes (the reference joins node_properties to nodes,
    * attribute_reference_adapter.rb:14-19), while the STORED properties
    * table keeps orphans of evicted nodes, exactly as SQLite does with
    * foreign_keys OFF during writes. */
  def upsert(prev: GraphTables, inputDir: String): GraphTables = {
    import org.apache.spark.sql.functions._
    val t2 = XmlIngest.ingest(spark, inputDir, parseFailures)

    // Last-write-wins across batches with the same max_by shape as
    // ingest's intra-batch dedup (XmlIngest.tables): batch rank is the
    // arrival order — the new conversion strictly follows the old one.
    def lastBatchWins(old: DataFrame, fresh: DataFrame,
        keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val u = old.withColumn("batch", lit(0))
        .unionByName(fresh.withColumn("batch", lit(1)))
      val payload = struct(old.columns.map(col).toIndexedSeq: _*)
      u.groupBy(keys: _*).agg(max_by(payload, col("batch")).as("w"))
        .select(col("w.*"))
    }

    val documents = lastBatchWins(prev.documents, t2.documents,
      Seq(col("id")))
    val byId = lastBatchWins(prev.nodes, t2.nodes, Seq(col("id")))
    // UNIQUE(parent_id, position) with SQLite's multi-NULL exemption:
    // null-parent rows each keep their own slot (third key = id). The
    // slot pass re-ranks the id-survivors by batch: rows whose id came
    // from the new conversion win their slots, evicting previous-batch
    // occupants — the reference's INSERT OR REPLACE eviction.
    val nodes = lastBatchWins(
      byId.join(t2.nodes.select(col("id")), Seq("id"), "left_anti"),
      byId.join(t2.nodes.select(col("id")), Seq("id"), "left_semi"),
      Seq(col("parent_id"), col("position"),
        when(col("parent_id").isNull, col("id"))))
      .cache()
    val properties = lastBatchWins(prev.properties, t2.properties,
      Seq(col("node_id"), col("property_name"))).cache()

    // Detection sees only surviving nodes' properties (np JOIN nodes);
    // the stored table above keeps orphans like the reference does.
    val liveProps = properties.join(nodes.select(col("id")),
      properties("node_id") === nodes("id"), "left_semi")
    val fresh =
      if (detectRelationships)
        RelationshipAdapter.detectAll(adapters, nodes, liveProps)
      else
        RelationshipAdapter.detectAll(Nil, nodes, liveProps)
    val xrefs = prev.crossReferences.unionByName(fresh).distinct()
    GraphTables(documents, nodes, properties, xrefs, t2.caches)
  }
}

object Converter {
  /** The pair registered by default in the reference (main.rb:109-115). */
  def coreAdapters: Seq[RelationshipAdapter] =
    Seq(StructuralAdapter, AttributeReferenceAdapter)

  /** Everything, including the examples-dir adapters. */
  def allAdapters: Seq[RelationshipAdapter] =
    Seq(StructuralAdapter, AttributeReferenceAdapter,
      MultiReferenceAdapter, SemanticAdapter)

  /** The corpus-scale lineup: the quadratic content-similarity scan is
    * swapped for the LSH sketch-then-verify variant (same edge schema
    * and confidence math, bounded join fan-out); the exact `same_type`
    * pass stays ([[SameTypeAdapter]]), so the relationship schema is
    * identical to [[allAdapters]] — only content_similar recall is
    * approximate. */
  def scaleAdapters: Seq[RelationshipAdapter] =
    Seq(StructuralAdapter, AttributeReferenceAdapter,
      MultiReferenceAdapter, SameTypeAdapter, SemanticLshAdapter)
}
