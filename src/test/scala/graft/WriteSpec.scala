package graft

import graft.engine.{Converter, GraphTables}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import java.nio.file.Files

/** Parquet sink round-trip: the durable form of the four tables
  * (SURVEY.md S6 — capability replacement for the SQLite file). */
class WriteSpec extends SparkSpec {
  import spark.implicits._

  test("write + read round-trips all four tables") {
    val out = tempDir("graft-write").toString
    val t = new Converter(spark, Converter.coreAdapters)
      .convertAndWrite(fixturesDir, out)
    val back = GraphTables.read(spark, out)
    assert(back.documents.count() === t.documents.count())
    assert(back.nodes.count() === 40)
    assert(back.properties.count() === t.properties.count())
    assert(back.crossReferences.count() === t.crossReferences.count())
    // nodes are partitioned by node_type → type filters prune partitions
    assert(new java.io.File(s"$out/nodes/node_type=book").exists())
    val plan = back.nodes.filter($"node_type" === "book")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters"), plan)
    // round-tripped rows are value-identical (modulo created_at order)
    val a = t.nodes.select($"id", $"node_type", $"parent_id", $"position",
      $"content", $"xpath").as[(String, String, Option[String], Int,
      Option[String], String)].collect().toSet
    val b = back.nodes.select($"id", $"node_type", $"parent_id",
      $"position", $"content", $"xpath").as[(String, String,
      Option[String], Int, Option[String], String)].collect().toSet
    assert(a === b)
  }

  /** A fresh database written from the bundled fixtures. */
  def writtenDb(): String = {
    val out = tempDir("graft-db").toString
    GraphTables.unpersist(new Converter(spark, Converter.coreAdapters)
      .convertAndWrite(fixturesDir, out))
    out
  }

  lazy val db: String = writtenDb()

  test("GraphTables.read opens a database without a Spark job") {
    val dir = db // written before the count starts
    val (back, jobs) = jobsDuring(GraphTables.read(spark, dir))
    assert(jobs === 0)
    assert(back.nodes.count() === 40)
  }

  test("GraphTables.read schemas equal the ones inference finds") {
    val back = GraphTables.read(spark, db)
    Seq("documents" -> back.documents, "nodes" -> back.nodes,
        "node_properties" -> back.properties,
        "cross_references" -> back.crossReferences).foreach {
      case (name, df) =>
        assert(df.schema === spark.read.parquet(s"$db/$name").schema, name)
    }
    assert(back.nodes.columns.last === "node_type")
  }

  test("GraphTables.read fails on a missing table, naming its path") {
    val out = writtenDb()
    val xrefs = new java.io.File(s"$out/cross_references")
    Files.walk(xrefs.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val e = intercept[AnalysisException](GraphTables.read(spark, out))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    assert(e.getMessage.contains(xrefs.getPath), e.getMessage)
  }

  /** The parquet part files of each table of a database, by table. */
  def partFiles(dir: String): Map[String, Seq[java.nio.file.Path]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .groupBy(p => root.relativize(p).getName(0).toString)
  }

  test("every table is written with zstd column chunks") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = partFiles(db)
    assert(files.keySet ===
      Set("documents", "nodes", "node_properties", "cross_references"))
    files.foreach { case (table, paths) =>
      val codecs = paths.flatMap { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
        try r.getFooter.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala.map(_.getCodec))
        finally r.close()
      }
      assert(codecs.nonEmpty, table)
      assert(codecs.toSet === Set(CompressionCodecName.ZSTD), table)
    }
  }

  test("each cross_references file is ordered by source, then target") {
    val files = partFiles(db)("cross_references")
    val edges = files.map { p =>
      spark.read.parquet(p.toString)
        .select($"source_node_id", $"target_node_id")
        .as[(Option[String], Option[String])].collect().toSeq
    }
    assert(edges.exists(_.size > 1))
    edges.foreach(e => assert(e === e.sorted, e))
    assert(edges.map(_.size).sum ===
      GraphTables.read(spark, db).crossReferences.count())
  }

  test("a failed table write is rethrown after every other write ended") {
    val t = new Converter(spark, Converter.coreAdapters).convert(fixturesDir)
    val boom = udf((s: String) =>
      if (s != null) throw new IllegalStateException("edge frame boom")
      else s)
    val broken = t.copy(crossReferences = t.crossReferences
      .withColumn("source_node_id", boom($"source_node_id")))
    val out = tempDir("graft-write-fail").toString
    val e = intercept[Exception](broken.write(out))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => Option(c.getMessage)
      .exists(_.contains("edge frame boom"))), e)
    // the other three writes committed before write returned
    for (table <- Seq("documents", "nodes", "node_properties"))
      assert(new java.io.File(s"$out/$table/_SUCCESS").exists(), table)
    // job-end events reach the status store asynchronously
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(tracker.getActiveJobIds.isEmpty)
    GraphTables.unpersist(t)
  }

  test("GraphTables.read lists 41 node types in at most one job") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // the nodes listing runs as a Spark job
    val in = tempDir("graft-types")
    val kids = (1 to 40).map(i => s"""<t$i id="n$i">v$i</t$i>""").mkString
    Files.write(in.resolve("types.xml"),
      s"""<root id="n0">$kids</root>""".getBytes("UTF-8"))
    val out = tempDir("graft-types-db").toString
    GraphTables.unpersist(new Converter(spark, Converter.coreAdapters)
      .convertAndWrite(in.toString, out))
    assert(new java.io.File(s"$out/nodes").list()
      .count(_.startsWith("node_type=")) === 41)
    val (back, jobs) = jobsDuring(GraphTables.read(spark, out))
    assert(jobs <= 1)
    val rows = back.nodes.select($"id", $"node_type").as[(String, String)]
      .collect().toSet
    assert(rows === ((1 to 40).map(i => s"n$i" -> s"t$i").toSet +
      ("n0" -> "root")))
  }

  test("node types that parse as doubles read back as strings") {
    // inference types a partition column whose every value parses as a
    // double (`node_type=NaN`, `node_type=Infinity`) as DoubleType
    val in = tempDir("graft-nan")
    Files.write(in.resolve("nan.xml"),
      """<NaN id="n1"><Infinity id="i1"/><Infinity id="i2"/></NaN>"""
        .getBytes("UTF-8"))
    val out = tempDir("graft-nan-db").toString
    GraphTables.unpersist(new Converter(spark, Converter.coreAdapters)
      .convertAndWrite(in.toString, out))
    val back = GraphTables.read(spark, out)
    assert(back.nodes.schema("node_type").dataType === StringType)
    val rows = back.nodes.select($"id", $"node_type").as[(String, String)]
      .collect().toSet
    assert(rows === Set("n1" -> "NaN", "i1" -> "Infinity", "i2" -> "Infinity"))
    assert(back.nodes.filter($"node_type" === "Infinity").count() === 2)
  }

  test("GraphTables.unpersist releases the parse cache as well") {
    // the session is shared, so earlier suites' cached RDDs may remain
    def cached() = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> i.name).toMap
    val before = cached()
    val out = tempDir("graft-release").toString
    val t = new Converter(spark, Converter.coreAdapters)
      .convertAndWrite(fixturesDir, out)
    assert((cached().keySet -- before.keySet).size >= 3)
    GraphTables.unpersist(t)
    val left = cached() -- before.keySet
    assert(left.isEmpty, left.values.mkString("; "))
  }

  test("CLI main converts a directory and prints stats") {
    val out = tempDir("graft-cli").toString + "/db"
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout)) {
      Main.main(Array("-i", fixturesDir, "-o", out, "--examples",
        "--force", "-c", "4"))
    }
    val printed = stdout.toString
    assert(printed.contains("Conversion complete!"))
    assert(printed.contains("Nodes: 40"))
    assert(new java.io.File(s"$out/cross_references").exists())
    val back = GraphTables.read(spark, out)
    // examples adapters add multi/semantic edge families
    val types = back.crossReferences.select($"reference_type").distinct()
      .as[String].collect().toSet
    assert(types.contains("same_type"))
  }

  test("CLI main reports unparseable files in the stats") {
    val in = tempDir("graft-cli-bad")
    Files.copy(java.nio.file.Paths.get(s"$fixturesDir/simple.xml"),
      in.resolve("simple.xml"))
    // no root element ever opens ⇒ nothing to salvage ⇒ skipped (a
    // merely-unclosed file would now be prefix-salvaged instead)
    Files.write(in.resolve("broken.xml"),
      "this is not xml at all".getBytes("UTF-8"))
    val out = tempDir("graft-cli-bad-out").toString + "/db"
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout)) {
      Main.main(Array("-i", in.toString, "-o", out, "--force"))
    }
    val printed = stdout.toString
    assert(printed.contains("Documents: 1 ("), printed)
    assert(printed.contains("Skipped (unparseable): 1"), printed)
  }
}
