package graft

import graft.queries.{Recursion, Skew, StarQueries}
import org.apache.spark.sql.functions._

/** Scale-machinery behavior: salted joins, traversal forms, and a
  * many-file ingest. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("round-6 operators are partition-invariant") {
    import graft.pipeline.{Sampling, Similarity, TextAnalysis}
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
    }
    same(
      TextAnalysis.crossDocDupStats(docs.repartition(1), "text", "doc_id"),
      TextAnalysis.crossDocDupStats(docs.repartition(13), "text", "doc_id"))
    val cents = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    same(
      Similarity.semanticDedup(e.repartition(1), "embedding", "vec_id",
        cents, 0.35),
      Similarity.semanticDedup(e.repartition(13), "embedding", "vec_id",
        cents, 0.35))
    same(
      Sampling.temperatureWeights(docs.repartition(1), "text", "lang"),
      Sampling.temperatureWeights(docs.repartition(13), "text", "lang"))
    same(
      Similarity.int8TopK(e.filter($"vec_id" < 10),
        e.filter($"vec_id" >= 10).repartition(7), "embedding", "vec_id", 5),
      Similarity.int8TopK(e.filter($"vec_id" < 10).repartition(3),
        e.filter($"vec_id" >= 10).repartition(1), "embedding", "vec_id", 5))
  }

  test("salted join equals the plain join on a skewed key") {
    // 90% of fact rows share one key — the classic hot-key shape
    val fact = spark.range(0, 5000)
      .select((when($"id" % 10 === 0, $"id" % 7).otherwise(0L))
        .as("k"), ($"id" * 3).as("payload"))
    val dim = spark.range(0, 7).select($"id".as("k"),
      concat(lit("dim_"), $"id").as("label"))
    val plain = fact.join(dim, Seq("k")).select($"k", $"payload", $"label")
    val salted = Skew.saltedJoin(fact, dim, "k", numSalts = 8)
      .select($"k", $"payload", $"label")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // left joins preserve unmatched fact rows too
    val factWithMiss = fact.withColumn("k",
      when($"payload" % 13 === 0, lit(999L)).otherwise($"k"))
    val plainL = factWithMiss.join(dim, Seq("k"), "left_outer")
    val saltedL = Skew.saltedJoin(factWithMiss, dim, "k", 8, "left_outer")
    assert(saltedL.count() === plainL.count())
    // dim-preserving join types would replicate unmatched dim rows —
    // rejected up front
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", 8, "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", 8, "right")
    }
  }

  test("salted aggregation equals the plain groupBy on a skewed key") {
    val fact = spark.range(0, 5000)
      .select((when($"id" % 10 === 0, $"id" % 7).otherwise(0L))
        .as("k"), ($"id" % 97).cast("decimal(18,2)").as("v"))
    val plain = fact.groupBy($"k")
      .agg(sum($"v").as("sum_value"), count(lit(1)).as("cnt"))
      .as[(Long, BigDecimal, Long)].collect().toSet
    val salted = Skew.saltedAgg(fact, "k", "v", numSalts = 8)
      .as[(Long, BigDecimal, Long)].collect().toSet
    assert(salted === plain)
  }

  test("approx_count_distinct: the sketch substitute tracks exact counts") {
    // SURVEY §2.4: exact COUNT DISTINCT at 100 TB becomes an HLL
    // sketch; assert the substitution stays within its error bound
    val li = StarQueries.t(spark, sf("sf0.01"), "lineitem")
    val r = li.agg(
      countDistinct($"l_partkey").as("exact"),
      approx_count_distinct($"l_partkey", 0.02).as("approx"))
      .as[(Long, Long)].collect().head
    val relErr = math.abs(r._2 - r._1).toDouble / r._1
    assert(relErr < 0.05, s"exact=${r._1} approx=${r._2} err=$relErr")
  }

  test("per-type node views register and answer queries") {
    val t = graft.queries.XmlQueries.tables(spark)
    val names = t.createNodeTypeViews()
    assert(names.contains("book_nodes"))
    assert(spark.sql("SELECT count(*) FROM book_nodes").collect()
      .head.getLong(0) === 3)
    assert(names.distinct === names)
  }

  test("per-type views merge types whose sanitized names collide") {
    import graft.engine.GraphTables
    val nodes = Seq(
      ("a1", "my-item", "d", None: Option[String], 0,
        Some("x"), "/r", new java.sql.Timestamp(0)),
      ("a2", "my.item", "d", None: Option[String], 1,
        Some("y"), "/r", new java.sql.Timestamp(0)))
      .toDF("id", "node_type", "document_id", "parent_id", "position",
        "content", "xpath", "created_at")
    val empty = nodes.limit(0)
    val t = GraphTables(empty, nodes, empty, empty)
    val names = t.createNodeTypeViews()
    assert(names === Seq("my_item_nodes"))
    assert(spark.sql("SELECT count(*) FROM my_item_nodes").collect()
      .head.getLong(0) === 2)
  }

  test("bucketed tables co-locate the nodes-properties join (no shuffle)") {
    val t = graft.queries.XmlQueries.tables(spark)
    spark.sql("DROP TABLE IF EXISTS nodes_bkt")
    spark.sql("DROP TABLE IF EXISTS props_bkt")
    // a previously aborted run can leave the managed locations behind
    // even when the catalog entry is gone
    Seq("nodes_bkt", "props_bkt").foreach { n =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft_test_warehouse/$n"))
    }
    t.nodes.write.bucketBy(8, "id").sortBy("id")
      .mode("overwrite").saveAsTable("nodes_bkt")
    t.properties.withColumnRenamed("node_id", "id")
      .write.bucketBy(8, "id").sortBy("id")
      .mode("overwrite").saveAsTable("props_bkt")
    // force the sort-merge path (tiny test tables would broadcast):
    // with matching bucketing, SMJ needs no shuffle exchange at all
    val joined = spark.table("nodes_bkt").hint("merge")
      .join(spark.table("props_bkt"), Seq("id"))
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() ===
      t.properties.join(t.nodes,
        t.properties("node_id") === t.nodes("id")).count())
  }

  test("IVF works with string keys and prunes cluster partitions at rest") {
    import graft.pipeline.Similarity
    val e = StarQueries.t(spark, sf("sf0.001"), "embeddings")
      .withColumn("key", concat(lit("vec_"), $"vec_id"))
    // string key column: results must equal the long-key run (modulo
    // the key rendering) — pins the type-agnostic tie-break
    val byLong = Similarity.ivfTopK(
      e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
      "embedding", "vec_id", k = 5,
      centroidPred = $"vec_id" % 50 === 0, nprobe = 2)
      .select($"q_id".cast("string"), $"rank", $"c_id".cast("string"))
      .as[(String, Int, String)].collect().toSet
      .map { t: (String, Int, String) =>
        (s"vec_${t._1}", t._2, s"vec_${t._3}") }
    val byString = Similarity.ivfTopK(
      e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
      "embedding", "key", k = 5,
      centroidPred = $"vec_id" % 50 === 0, nprobe = 2)
      .select($"q_id", $"rank", $"c_id")
      .as[(String, Int, String)].collect().toSet
    assert(byString === byLong)

    // the at-rest layout SCALE.md promises: corpus written partitioned
    // by assigned centroid; a probe of 2 clusters prunes all others
    val corpus = e.filter($"vec_id" >= 10)
    val cent = corpus.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cemb"))
    val assigned = corpus.crossJoin(broadcast(cent))
      .withColumn("ccos", Similarity.dot($"embedding", $"cemb"))
      .groupBy($"vec_id")
      .agg(min_by(struct($"embedding", $"cent_id"),
        struct(-$"ccos", $"cent_id")).as("w"))
      .select($"vec_id", $"w.cent_id".as("cent_id"))
    val out = tempDir("graft-ivf-rest").toString
    assigned.write.partitionBy("cent_id").mode("overwrite").parquet(out)
    val probed = spark.read.parquet(out)
      .filter($"cent_id".isin(50, 100))
    probed.collect() // execute THIS df's QueryExecution for its metrics
    val executed = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(executed.toString.contains("PartitionFilters"), executed)
    // only the two probed cluster directories are actually read
    // (inputFiles reports pre-pruning, so read the scan's own metric)
    val scan = executed.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val allFiles = spark.read.parquet(out).inputFiles.length
    assert(allFiles > 2, s"expected >2 cluster files, got $allFiles")
    assert(scan.metrics("numFiles").value === 2,
      s"${scan.metrics("numFiles").value} of $allFiles files read")
  }

  test("property: salted join equals the plain join on random frames") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genRows = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 100L)))
    val dim = (0L to 4L).map(k => (k, s"d$k")).toDF("k", "label")
    val prop = Prop.forAll(genRows, Gen.choose(1, 6)) { (rows, salts) =>
      val fact = rows.toDF("k", "payload")
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select($"k", $"payload", $"label")
          .as[(Long, Long, String)].collect().toSeq.sorted
      // dim covers keys 0-4 only; key 5 tests unmatched-fact behavior
      sorted(Skew.saltedJoin(fact, dim, "k", salts)) ===
        sorted(fact.join(dim, Seq("k")))
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
    assert(SCTest.check(params, prop).passed)
  }

  test("property: local walk equals iterative on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small dense-ish digraphs with cycles; depth cap keeps paths finite
    val genEdges = Gen.listOfN(8,
      Gen.zip(Gen.choose(0, 4), Gen.choose(0, 4)))
      .map(_.distinct.map { case (a, b) => (s"n$a", s"n$b") })
    val prop = Prop.forAll(genEdges) { edgeList =>
      edgeList.isEmpty || {
        val e = edgeList.toDF("src", "dst")
        val seeds = Seq("n0").toDF("node")
        val walked = Recursion.walk(Recursion.adjacency(edgeList), "n0", 0,
          "n0", 4, prependPath = false).toSeq.sorted
        walked === Recursion.descend(e, seeds, 4)
          .select($"node", $"depth", $"path")
          .as[(String, Int, String)].collect().toSeq.sorted
      }
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, prop).passed)
  }

  test("ingest scales across many files with stable counts") {
    val dir = tempDir("graft-many")
    (0 until 200).foreach { i =>
      val xml =
        s"""<?xml version="1.0"?>
           |<root id="root_$i">
           |  <item id="item_${i}_a" count="$i" ref="root_$i">alpha $i</item>
           |  <item id="item_${i}_b" flag="true">beta</item>
           |</root>""".stripMargin
      java.nio.file.Files.write(dir.resolve(f"doc_$i%03d.xml"),
        xml.getBytes("UTF-8"))
    }
    val t0 = System.nanoTime()
    val t = graft.ingest.XmlIngest.ingest(spark, dir.toString)
    assert(t.nodes.count() === 600)
    assert(t.properties.count() === 600) // count+ref / flag per file
    assert(t.documents.count() === 200)
    val secs = (System.nanoTime() - t0) / 1e9
    // parse is per-file parallel; 200 files should be comfortably fast
    assert(secs < 60, s"ingest took $secs s")
    // every ref resolves → 200 attribute_reference edges
    val edges = graft.relationships.AttributeReferenceAdapter
      .detect(t.nodes, t.properties)
    assert(edges.count() === 200)
  }

  test("partitioned input dirs bound the listing to the slice read") {
    // The SCALE.md ingest claim behind graft.tools.ListingBench: a
    // date-partitioned layout lets a slice read list ONLY its
    // directory, where the flat layout's filename-glob slice still
    // lists every file. inputFiles is the driver's own file index —
    // the assertion is on what the driver actually listed/kept.
    val (flat, part) = graft.tools.ListingCorpus.generate(1000, 10)
    Seq(flat, part).foreach(removeAfterAll)
    def read(path: String, glob: Option[String]) = {
      val r = spark.read.format("binaryFile")
      glob.foreach(g => r.option("pathGlobFilter", g))
      r.load(path)
    }
    assert(read(flat.toString, None).inputFiles.length === 1000)
    assert(read(part.toString, None).inputFiles.length === 1000)
    // slice = one of the 10 partitions (100 files)
    val flatSlice = read(flat.toString, Some("*_p005.xml"))
    val partSlice = read(s"$part/date=p005", None)
    assert(flatSlice.inputFiles.length === 100)
    assert(partSlice.inputFiles.length === 100)
    assert(flatSlice.select("path").count() === 100)
    assert(partSlice.select("path").count() === 100)
    // both slices read the same 100 logical files; only the
    // partitioned form got there without enumerating the other 900
    // (ListingBench measures that wall-clock asymmetry at 200k files)
    def names(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").last.replaceAll("_p\\d+", "")).toSet
    assert(names(flatSlice) === names(partSlice))
  }
}
