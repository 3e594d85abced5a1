package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

/** End-to-end smoke test of the user-facing CLI entry (`graft.Main`):
  * arg parsing, conversion, parquet sink, and the reference-parity
  * stats printout including the skipped-file line. Runs inside the
  * shared test session (Main detects a pre-existing session and leaves
  * its lifecycle alone). */
class CliSpec extends SparkSpec {

  test("graft.Main -i fixtures -o tmp --examples: stats + skip line") {
    spark // force session init so Main sees it as pre-existing
    val in = tempDir("graft-cli-in")
    for (f <- Seq("simple.xml", "sample_library.xml"))
      Files.copy(Paths.get(s"$fixturesDir/$f"), in.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    // one file with no parseable prefix at all → the skipped counter
    Files.write(in.resolve("broken.xml"),
      "<<< this is not xml at all".getBytes("UTF-8"))
    val out = tempDir("graft-cli-out").toString

    val captured = new ByteArrayOutputStream()
    Console.withOut(captured) {
      Main.main(Array("-i", in.toString, "-o", out, "--examples",
        "--force", "-c", "4"))
    }
    val lines = captured.toString("UTF-8").linesIterator.map(_.trim).toSeq

    assert(lines.contains("Conversion complete!"))
    assert(lines.exists(_.startsWith("Documents: 2")))
    assert(lines.contains("Nodes: 40")) // 4 simple + 36 sample_library
    assert(lines.contains("Skipped (unparseable): 1"))
    // per-type breakdown present (reference main.rb:124-142 shape)
    assert(lines.contains("tag: 9"))

    // the parquet sink is real and readable
    val nodes = spark.read.parquet(s"$out/nodes")
    assert(nodes.count() === 40)
    assert(spark.read.parquet(s"$out/documents").count() === 2)
    assert(spark.read.parquet(s"$out/cross_references").count() > 0)
    // the session this test shares must survive Main's cleanup path
    assert(!spark.sparkContext.isStopped)
  }

  test("custom adapter lineup: examples/custom_main.rb registration parity") {
    // the reference's customization example
    // (/root/reference/examples/custom_main.rb:10-42) subclasses the
    // CLI to register EXACTLY [Structural, AttributeReference,
    // MultiReference] — three adapters, no semantic pass. The same
    // combination plugs into Converter's adapter parameter; the
    // resulting edge set must carry only those adapters' types, and
    // each type's edges must equal the full-lineup run's (adding or
    // removing an adapter never perturbs another's output).
    import graft.engine.Converter
    import graft.relationships.{AttributeReferenceAdapter,
      MultiReferenceAdapter, StructuralAdapter}
    val customLineup = Seq(StructuralAdapter, AttributeReferenceAdapter,
      MultiReferenceAdapter)
    assert(customLineup.length === 3) // "(3 total)" in the example
    val custom = new Converter(spark, adapters = customLineup)
      .convert(fixturesDir)
    val full = new Converter(spark, adapters = Converter.allAdapters)
      .convert(fixturesDir)
    def edges(t: graft.engine.GraphTables) = t.crossReferences
      .select(org.apache.spark.sql.functions.col("source_node_id"),
        org.apache.spark.sql.functions.col("target_node_id"),
        org.apache.spark.sql.functions.col("reference_type"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val customEdges = edges(custom)
    val semanticTypes = Set("content_similar", "same_type")
    assert(customEdges.map(_._3).intersect(semanticTypes).isEmpty,
      "custom lineup leaked semantic edges")
    assert(customEdges.map(_._3).contains("parent_child"))
    assert(customEdges.map(_._3).contains("attribute_reference"))
    // the full lineup restricted to the custom types is the same set
    assert(customEdges ===
      edges(full).filterNot(e => semanticTypes(e._3)))
  }
}
