package graft

import graft.engine.{Converter, GraphTables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI batch conversion — the reference's `main.rb` entry point
  * re-expressed over Spark:
  *
  * {{{
  *   runMain graft.Main -i /path/to/xml-dir -o /path/to/out \
  *     [--no-relationships] [--examples] [--force] [-c N] [-v]
  * }}}
  *
  * Flag mapping (reference main.rb:146-173): `-i/-o` as there; `-c`
  * sets the local parallelism (the fiber-concurrency analog);
  * `--no-relationships` skips the adapter phase (main.rb:42);
  * `--examples` additionally registers the examples-dir adapters;
  * `--force` clears the output first (main.rb:85). `--batch-size` is
  * accepted and ignored — batching dissolves into Spark partitioning
  * (SURVEY.md S7). Ends with the reference's stats printout
  * (main.rb:124-142). */
object Main {
  def main(args: Array[String]): Unit = {
    var input: Option[String] = None
    var output: Option[String] = None
    var relationships = true
    var examples = false
    var force = false
    var verbose = false
    var concurrency = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) {
        System.err.println(s"missing value for $flag"); sys.exit(2)
      }
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case f @ ("-i" | "--input") => input = Some(value(f)); i += 2
        case f @ ("-o" | "--output") => output = Some(value(f)); i += 2
        case f @ ("-c" | "--concurrency") => concurrency = value(f); i += 2
        case f @ ("-b" | "--batch-size") => value(f); i += 2 // dissolved
        case "--no-relationships" => relationships = false; i += 1
        case "--examples" => examples = true; i += 1
        case "--force" => force = true; i += 1
        case "-v" | "--verbose" => verbose = true; i += 1
        case other =>
          System.err.println(s"unknown argument: $other"); sys.exit(2)
      }
    }
    val (in, out) = (input, output) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        System.err.println(
          "usage: graft.Main -i <xml-dir> -o <out-dir> " +
            "[--no-relationships] [--examples] [--force] [-c N] [-v]")
        sys.exit(2); throw new IllegalStateException
    }
    if (force) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(out))
    }

    // reuse an already-running session (e.g. under test) and leave its
    // lifecycle alone; stop only a session this run created
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = Graft.session(s"local[$concurrency]", Some(concurrency.toInt))
    // -v mirrors main.rb's verbose progress logging via Spark's own
    // job/stage logs
    spark.sparkContext.setLogLevel(if (verbose) "INFO" else "WARN")

    val adapters =
      if (examples) Converter.allAdapters else Converter.coreAdapters
    val parseFailures = spark.sparkContext.longAccumulator("parse_failures")
    GraphTables.unpersist(new Converter(spark, adapters, relationships,
      Some(parseFailures))
      .convertAndWrite(in, out))

    // stats printout (main.rb:124-142) from the tables just written: the
    // converter's edge table is an uncached union, and counting it would
    // run every adapter again. One aggregate pass per table: documents
    // fold count+MB into a single agg, and the node total is the sum of
    // the per-type counts (no separate count() scan)
    val tables = GraphTables.read(spark, out)
    val docStats = tables.documents
      .agg(count(lit(1)).as("n"),
        round(sum(col("file_size")) / 1048576.0, 2).as("mb"))
      .collect().head
    val typeCounts = tables.nodes.groupBy(col("node_type")).count()
      .orderBy(col("count").desc, col("node_type"))
      .collect()
    val nNodes = typeCounts.map(_.getLong(1)).sum
    val nProps = tables.properties.count()
    val nRefs = tables.crossReferences.count()
    println("Conversion complete!")
    println(s"  Documents: ${docStats.getLong(0)} (${docStats.get(1)} MB)")
    println(s"  Nodes: $nNodes")
    println(s"  Properties: $nProps")
    println(s"  Cross-references: $nRefs")
    // parity with the reference's per-file error reporting
    // (async_processor.rb:62-64), counted by an accumulator during
    // the single ingest pass — no second scan/parse of the corpus
    if (parseFailures.value > 0)
      println(s"  Skipped (unparseable): ${parseFailures.value}")
    typeCounts
      .foreach(r => println(s"    ${r.get(0)}: ${r.get(1)}"))
    if (!preExisting) spark.stop()
  }
}
