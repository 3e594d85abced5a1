package perfbench

import graft.Graft
import graft.engine.{Converter, GraphTables}
import graft.ingest.XmlIngest
import graft.queries.GraphQueries
import graft.relationships.{AttributeReferenceAdapter, RelationshipAdapter, StructuralAdapter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, size, sum}

import scala.collection.mutable

/** The benchmark's JVM side: one closed loop with one client (this
  * thread) over the engine's public calls. `perfbench/run.py` builds
  * it, generates the inputs, starts it and checks what it wrote.
  *
  * {{{
  *   PerfBench --workload convert_corpus|query_mix
  *     --work DIR --rounds N --trace 0|1 --cores N --warmup ROUNDS
  * }}}
  *
  * DIR holds the generated `corpus/` and `params.properties`;
  * ops write under `DIR/out`, the run record goes to `DIR/result.json`
  * and, when traced, the spans to `DIR/spans.jsonl`.
  */
object PerfBench {
  private val origin = System.nanoTime()
  private val originEpoch = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
  private def epoch(t: Long): Double = originEpoch + (t - origin) / 1e9
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process: driver, executor threads, JIT, GC. */
  private def cpuNanos(): Long = os.getProcessCpuTime

  final case class OpRecord(i: Int, round: Int, name: String, family: String,
      traced: Boolean, t0: Long, t1: Long, cpuS: Double, out: String,
      cachedMb: Double, leakedMb: Double, skipped: Long,
      counts: Map[String, Long])

  /** One workload: an optional database build, then rounds of ops. */
  abstract class Workload(val spark: SparkSession, val work: String,
      val tr: Tracer) {
    val corpus = s"$work/corpus"
    def setup(): Unit = ()
    /** Whether the set-up is the first, cold round of ops itself. */
    val coldRound = false
    def roundNames: Seq[(String, String)] // (op name, family)
    /** Run op `k` of a round; returns (output dir, skipped files). */
    def op(i: Int, k: Int, traced: Boolean): (String, Long)
    /** Set for the last warm-up round: ops also keep their answers for
      * the checker, so no extra untimed pass is needed. */
    var answering = false

    def sc = spark.sparkContext
    def outDir(i: Int) = s"$work/out/op_$i"
    def storageMb: Double =
      sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    def converter(acc: org.apache.spark.util.LongAccumulator) =
      new Converter(spark, Converter.coreAdapters, true, Some(acc))
    /** Row counts a traced op saw at its layer boundaries. */
    val counts = mutable.LinkedHashMap.empty[String, Long]
    /** The tables an op returned, and the caches its traced split made;
      * both released after the op, as a long-lived session would. */
    var lastTables: GraphTables = _
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def release(): Unit = {
      Option(lastTables).foreach(GraphTables.unpersist)
      lastTables = null
      held.foreach(_.unpersist())
      held.clear()
    }
  }

  final class ConvertCorpus(s: SparkSession, w: String, t: Tracer)
      extends Workload(s, w, t) {
    override val coldRound = true
    def roundNames = Seq("convert" -> "convert")
    def cached[T](df: DataFrame)(materialize: DataFrame => T): DataFrame = {
      val c = df.cache()
      materialize(c)
      c
    }
    /** Edges from one adapter, materialized inside its own span. */
    def edges(a: RelationshipAdapter, nodes: DataFrame, props: DataFrame,
        i: Int): DataFrame =
      tr.span(s"relationships.${a.name}", i) {
        cached(RelationshipAdapter.detectAll(Seq(a), nodes, props)) { e =>
          counts(s"${a.name}_edges") = e.count()
        }
      }
    def op(i: Int, k: Int, traced: Boolean): (String, Long) = {
      val acc = sc.longAccumulator
      val out = outDir(i)
      if (!traced) lastTables = converter(acc).convertAndWrite(corpus, out)
      else tr.span("op.convert", i) {
        val parsed = tr.span("ingest.parse", i) {
          val p = XmlIngest.parse(spark, corpus, Some(acc)).cache()
          val r = p.select(count(lit(1)), sum(size(col("nodes")))).head()
          counts("parsed_files") = r.getLong(0)
          counts("raw_nodes") = r.getLong(1)
          p
        }
        val t = tr.span("ingest.dedup", i) {
          val x = XmlIngest.tables(parsed)
          XmlIngest.XmlTables(x.documents,
            cached(x.nodes)(n => counts("nodes") = n.count()),
            cached(x.properties)(_.count()))
        }
        val s = edges(StructuralAdapter, t.nodes, t.properties, i)
        val a = edges(AttributeReferenceAdapter, t.nodes, t.properties, i)
        held ++= Seq(parsed.toDF(), s, a)
        lastTables = GraphTables(t.documents, t.nodes, t.properties,
          s.unionByName(a))
        tr.span("engine.write", i)(lastTables.write(out))
      }
      (out, acc.value)
    }
  }

  final class QueryMix(s: SparkSession, w: String, t: Tracer,
      p: java.util.Properties) extends Workload(s, w, t) {
    val db = s"$work/db"
    private def q(k: String) = {
      val v = p.getProperty(k)
      require(v != null, s"params.properties lacks $k")
      v
    }
    import GraphQueries._
    val calls: Seq[(String, String, GraphTables => DataFrame)] = Seq(
      ("relationships_of", "point", relationshipsOf(_, q("relationships_of"))),
      ("direct_children", "point", directChildren(_, q("direct_children"))),
      ("siblings_of", "point", siblingsOf(_, q("siblings_of"))),
      ("references_to", "point", referencesTo(_, q("references_to"))),
      ("search_by_attribute", "search",
        searchByAttribute(_, q("search_name"), q("search_value"))),
      ("eav_conjunction", "search", eavConjunction(_, q("eav_name1"),
        q("eav_value1"), q("eav_name2"), q("eav_type2"))),
      ("content_search", "search", contentSearch(_, q("content_term"))),
      ("xpath_search", "search", xpathSearch(_, q("xpath_pattern"))),
      ("count_by_type", "aggregate", countByType(_)),
      ("statistics", "aggregate", statistics(_)),
      ("relationship_summary", "aggregate", relationshipSummary(_)),
      ("relationship_counts", "aggregate", relationshipCounts(_)),
      ("most_connected", "aggregate", mostConnected(_)),
      ("bidirectional_pairs", "aggregate", bidirectionalPairs(_)),
      ("broken_references", "aggregate", brokenReferences(_)),
      ("ancestors", "traverse", ancestors(_, q("ancestors_of"))),
      ("descendants", "traverse", descendants(_, q("descendants_of"))),
      ("node_tree", "traverse", nodeTree(_)),
      ("hierarchical_paths", "traverse", hierarchicalPaths(_)))

    override def setup(): Unit =
      GraphTables.unpersist(
        converter(sc.longAccumulator).convertAndWrite(corpus, db))
    def roundNames = calls.map(c => c._1 -> c._2)
    def op(i: Int, k: Int, traced: Boolean): (String, Long) = {
      val (name, family, fn) = calls(k)
      def answer(t: GraphTables): Unit = {
        val w = fn(t).write.mode("overwrite")
        if (answering) w.parquet(s"$work/results/$name")
        else w.format("noop").save()
      }
      // untraced ops run without spans, so that a traced run's untraced
      // rounds cost what an untraced run's do
      if (!traced) answer(GraphTables.read(spark, db))
      else tr.span("op.query", i) {
        val t = tr.span("engine.read", i)(GraphTables.read(spark, db))
        tr.span(s"queries.$family", i)(answer(t))
      }
      ("", 0L)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val rounds = a("rounds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val warmup = a("warmup").toInt

    val spark = Graft.session(s"local[$cores]", Some(cores))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.nanoTime()
    val tr = new Tracer(spark.sparkContext, trace)
    val wl: Workload = a("workload") match {
      case "convert_corpus" => new ConvertCorpus(spark, work, tr)
      case "query_mix" =>
        val p = new java.util.Properties()
        val in = new java.io.FileInputStream(s"$work/params.properties")
        try p.load(in) finally in.close()
        new QueryMix(spark, work, tr, p)
      case other => sys.error(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var i = 0
    def runOp(round: Int, k: Int, traced: Boolean): Unit = {
      val (name, family) = wl.roundNames(k)
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val (out, skipped) = wl.op(i, k, traced)
      val t1 = System.nanoTime()
      val cpuS = (cpuNanos() - c0) / 1e9
      // cleanup happens outside the timed interval
      val cachedMb = wl.storageMb
      wl.release()
      ops += OpRecord(i, round, name, family, traced, t0, t1, cpuS, out,
        cachedMb, wl.storageMb, skipped, wl.counts.toMap)
      wl.counts.clear()
      i += 1
    }
    def runRound(round: Int, traced: Boolean): Unit =
      wl.roundNames.indices.foreach(k => runOp(round, k, traced))

    // set-up: the database build, or for convert_corpus the first,
    // cold op; both are also the start of the JIT warm-up
    var round = 0
    wl.setup()
    if (wl.coldRound) { runRound(round, false); round += 1 }
    val firstOpEnd = System.nanoTime()
    // warm-up and timed phase are both op counts, so a faster commit
    // gets neither extra warm-up nor extra, more warmed-up samples
    (1 to warmup).foreach { w =>
      wl.answering = w == warmup
      runRound(round, false)
      round += 1
    }
    wl.answering = false
    val timedStart = System.nanoTime()
    val firstTimedRound = round
    (1 to rounds).foreach { _ =>
      runRound(round, false)
      if (trace) runRound(round, true)
      round += 1
    }
    val timedEnd = System.nanoTime()
    if (trace) tr.write(s"$work/spans.jsonl", origin)

    import scala.jdk.CollectionConverters._
    val gcS = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val rec = Json.obj(
      "session_ready" -> epoch(sessionReady),
      "first_op_end" -> epoch(firstOpEnd),
      "timed_start" -> epoch(timedStart),
      "timed_end" -> epoch(timedEnd),
      "first_timed_round" -> firstTimedRound,
      "gc_s" -> gcS,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "ops" -> ops.map(o => Json.obj("i" -> o.i, "round" -> o.round,
        "name" -> o.name, "family" -> o.family, "traced" -> o.traced,
        "start" -> (o.t0 - origin) / 1e9, "end" -> (o.t1 - origin) / 1e9,
        "cpu_s" -> o.cpuS,
        "out" -> o.out, "cached_mb" -> o.cachedMb, "leaked_mb" -> o.leakedMb,
        "files_skipped" -> o.skipped,
        "counts" -> RawJson(Json.obj(o.counts.toSeq: _*)))).map(RawJson(_)))
    val out = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try out.println(rec) finally out.close()
    spark.stop()
  }
}
