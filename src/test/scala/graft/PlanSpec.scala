package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan assertions — the 100 TB design contract. Correctness
  * is the oracle's job; these tests pin the *plan shapes* that make the
  * queries scale: filters reaching the parquet scan, column pruning,
  * broadcast joins for dimensions, TakeOrderedAndProject for top-k, and
  * whole-stage codegen coverage. A regression here is a performance
  * bug even while every oracle still matches. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.explainString(FormattedMode)

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: scan is pruned to the referenced columns only") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_partkey"),
      s"scan reads unneeded column: $readSchema")
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("q05/q15: dimension joins broadcast") {
    assert(plan("q05_segment_revenue").contains("BroadcastHashJoin"))
    val p15 = plan("q15_multiway_join")
    assert(p15.contains("BroadcastHashJoin"))
  }

  test("q04: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q04_top_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q06/q07: semi/anti joins plan as joins, not subquery loops") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // codegen spans only materialize in the AQE final plan — execute
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf("sf0.001"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("),
      s"no WholeStageCodegen stage in executed plan:\n$executed")
  }

  test("semi-join filters stay pushed for the attribute search") {
    // flagship search shape: property filter must reach the scan side
    val t = graft.queries.XmlQueries.tables(spark)
    val q = graft.queries.GraphQueries
      .searchByAttribute(t, "category", "cat_fiction")
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("entry flagship broadcasts both dimension tables") {
    val p = SparkEntry.entry(spark).queryExecution
      .explainString(FormattedMode)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q27: range join broadcasts the tier dimension (no shuffle)") {
    val p = plan("q27_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q25: rollup plans as one Expand + aggregate, not N scans") {
    val p = plan("q25_rollup")
    assert(p.contains("Expand"), p)
    // a single scan feeds every grouping level (count tree leaves, not
    // the repeated node headers in the detail section)
    assert("\\+- Scan parquet".r.findAllIn(p).size === 1, p)
  }

  test("q26: as-of join is a single window pass, no self-join") {
    val p = plan("q26_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("ann_ivf: centroid table broadcasts for assignment and probing") {
    val p = plan("ann_ivf_topk")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p)
  }

  test("dd_cosine_bucketed: pair generation is an equi-join, never a cross join") {
    val p = plan("dd_cosine_bucketed")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("ta_repetition: the signal itself is shuffle-free (scan-local)") {
    // repetitionStats before any ordering: one scan, zero Exchange —
    // the property that makes it a free rider on any corpus pass
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val p = graft.pipeline.TextAnalysis.repetitionStats(d, "text", 3)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
  }

  test("dd_minhash signatures are scan-local (no window) on every form") {
    // round 19: minHashSignatures computes the eight min(md5) values
    // via the MinHashSigs codegen kernel in one pass off the scan —
    // the old relational pipeline's shingle Window and signature
    // groupBy are gone from EVERY consumer, not just the scalar-expr
    // gate; the only shuffles left are the band join and the final
    // distinct/sort
    val pipeline = plan("dd_minhash_lsh")
    val scalar = plan("dd_minhash_scalar_expr")
    assert(!pipeline.contains("Window"), pipeline)
    assert(!scalar.contains("Window"), scalar)
  }

  test("incremental IVF: BOTH base and delta scans prune on the probed cent_ids") {
    // The union of base/ and delta/ layouts must prune cent_id=
    // partitions on each side independently — if either scan read all
    // partitions, the incremental form would silently pay corpus-scan
    // cost per probe at scale.
    val p = plan("ann_ivf_incremental")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.contains("cent_id")).toSeq
    assert(pf.size >= 2,
      s"expected cent_id PartitionFilters on base AND delta scans:\n$p")
    assert(pf.forall(_.contains(" IN ")), pf.mkString("\n"))
  }

  test("partitioned ANN: probe set becomes literal PartitionFilters and prunes the scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE materializes subtrees as QueryStageExec leaves whose inner
    // plan is not a child — descend into them explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case s: FileSourceScanExec => Seq(s)
                  case q: QueryStageExec => scans(q.plan) }.flatten
    val tmp = tempDir("annprune").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    graft.pipeline.PartitionedAnn.writeSrpBucketed(
      e.filter(org.apache.spark.sql.functions.col("vec_id") >= 10),
      "embedding", "vec_id", s"$tmp/srp", planes = 4, dim = 64)
    val totalBuckets = new java.io.File(s"$tmp/srp").listFiles()
      .count(_.getName.startsWith("bucket="))
    // 3 queries probe at most 3 of the written buckets
    val df = graft.pipeline.PartitionedAnn.lshTopKPartitioned(spark,
      s"$tmp/srp", e.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      "embedding", "vec_id", k = 5, planes = 4, dim = 64)
    // logical proof: the corpus scan carries the probed buckets as
    // PartitionFilters (pruning at file-listing time, pre-task-launch)
    val p = df.queryExecution.explainString(FormattedMode)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("bucket"), p)
    assert(pf.contains(" IN "), pf)
    // physical proof: the executed scan read fewer partitions than the
    // layout holds
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(finalPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("srp")))
      .getOrElse(fail(s"no partitioned corpus scan in:\n$finalPlan"))
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead >= 1 && partsRead <= 3,
      s"expected <=3 probed buckets read, got $partsRead of $totalBuckets")
    assert(partsRead < totalBuckets,
      s"no pruning: read $partsRead of $totalBuckets buckets")
  }

  test("at-rest BM25: a probe reads only the query terms' buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.col
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case s: FileSourceScanExec => Seq(s)
                  case q: QueryStageExec => scans(q.plan) }.flatten
    val tmp = tempDir("bm25idx").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.pipeline.Retrieval.writeBm25Index(docs, "text", "doc_id",
      tmp, buckets = 64)
    val totalBuckets = new java.io.File(s"$tmp/postings").listFiles()
      .count(_.getName.startsWith("term_bucket="))
    val qs = spark.createDataFrame(Seq((0L, "spark join window")))
      .toDF("q_id", "q_text")
    val df = graft.pipeline.Retrieval.bm25TopKAtRest(spark, tmp, qs,
      "q_id", "q_text", k = 5, buckets = 64)
    // logical proof: the postings scan in the probe's own lineage
    // carries the probed term buckets as literal PartitionFilters
    // (pruning at file-listing time, pre-task-launch)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("term_bucket") && pf.contains(" IN "), pf)
    // physical proof: the executed postings scan read at most the 3
    // query terms' buckets, strictly fewer than the layout holds
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(finalPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("postings")))
      .getOrElse(fail(s"no postings scan in:\n$finalPlan"))
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead >= 1 && partsRead <= 3,
      s"expected <=3 probed buckets read, got $partsRead of $totalBuckets")
    assert(partsRead < totalBuckets,
      s"no pruning: read $partsRead of $totalBuckets buckets")
  }

  test("at-rest decontamination: the probe reads only the benchmark grams' buckets") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("gramidx").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.pipeline.Dedup.writeGramIndex(docs, "text", "doc_id", tmp,
      n = 5, buckets = 64)
    val df = graft.pipeline.Dedup.contaminationHitsAtRest(spark, tmp,
      docs.filter(col("source") === "src0"), "text", "doc_id", n = 5,
      buckets = 64)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(l => l.contains("PartitionFilters") &&
        l.contains("gram_bucket") &&
        (l.contains(" IN ") || l.contains("INSET"))).toSeq
    assert(pf.nonEmpty,
      s"gram index scan not pruned:\n" +
        df.queryExecution.explainString(FormattedMode))
  }

  test("incremental gram index: probes prune base AND delta scans") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("gramincr").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.pipeline.Dedup.writeGramIndex(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
      s"$tmp/base", n = 5, buckets = 16)
    graft.streaming.GramStream.appendBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, tmp, "text", "doc_id",
      n = 5, buckets = 16)
    val df = graft.streaming.GramStream.contaminationHitsIncremental(
      spark, tmp, docs.filter(col("source") === "src0"), "text",
      "doc_id", n = 5, buckets = 16)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(l => l.contains("PartitionFilters") &&
        l.contains("gram_bucket") &&
        (l.contains(" IN ") || l.contains("INSET"))).toSeq
    assert(pf.size >= 2,
      s"expected pruned base AND delta gram scans:\n${pf.mkString("\n")}")
  }

  test("incremental BM25: probes prune base AND delta scans") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("bm25incr").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.pipeline.Retrieval.writeBm25Index(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
      s"$tmp/base", buckets = 16)
    graft.streaming.Bm25Stream.appendBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, tmp, "text", "doc_id",
      buckets = 16)
    val qs = spark.createDataFrame(Seq((0L, "spark join window")))
      .toDF("q_id", "q_text")
    val df = graft.streaming.Bm25Stream.bm25TopKIncremental(spark, tmp,
      qs, "q_id", "q_text", k = 5, buckets = 16)
    // the probe filter must push through the union into BOTH
    // generations' scans — base and delta each carry a literal
    // term_bucket membership PartitionFilter
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(l => l.contains("PartitionFilters") &&
        l.contains("term_bucket") &&
        (l.contains(" IN ") || l.contains("INSET"))).toSeq
    assert(pf.size >= 2,
      s"expected pruned base AND delta postings scans:\n${pf.mkString("\n")}\n" +
        df.queryExecution.explainString(FormattedMode))
  }

  test("at-rest hybrid: BOTH retriever legs prune their partitioned scans") {
    // the fused plan carries two partitioned reads — the BM25
    // postings layout (term_bucket=) and the IVF corpus layout
    // (cent_id=) — and each must show a literal IN PartitionFilter;
    // a regression on either leg silently degrades the probe to a
    // full index scan
    val p = plan("pp_hybrid_at_rest")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    // a literal membership filter spells IN or INSET depending on
    // the probe-set size — accept either, per leg
    def pruned(col: String) = pf.linesIterator.exists(l =>
      l.contains(col) && (l.contains(" IN ") || l.contains("INSET")))
    assert(pruned("term_bucket"), s"BM25 leg not pruned:\n$pf")
    assert(pruned("cent_id"), s"IVF leg not pruned:\n$pf")
  }

  test("int8 partitioned ANN: pruning survives the quantized layout") {
    val tmp = tempDir("annprune8").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    graft.pipeline.PartitionedAnn.writeSrpBucketedInt8(
      e.filter(org.apache.spark.sql.functions.col("vec_id") >= 10),
      "embedding", "vec_id", s"$tmp/srp8", planes = 4, dim = 64)
    val df = graft.pipeline.PartitionedAnn.lshTopKPartitionedInt8(spark,
      s"$tmp/srp8", e.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      "embedding", "vec_id", k = 5, planes = 4, dim = 64)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("bucket") && pf.contains(" IN "), pf)
    // the layout really stores tinyint weights (1 byte/dim pre-encoding)
    val sch = spark.read.parquet(s"$tmp/srp8").schema("q").dataType
    assert(sch === org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, true), sch.toString)
  }

  test("int8 IVF partitioned ANN: probed centroids prune, pages are tinyint") {
    val tmp = tempDir("annprune8i").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter(org.apache.spark.sql.functions.col("vec_id") >= 10)
    val cents = corpus
      .filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
      .select(org.apache.spark.sql.functions.col("vec_id").as("cent_id"),
        org.apache.spark.sql.functions.col("embedding").as("cent_vec"))
    graft.pipeline.PartitionedAnn.writeIvfPartitionedInt8(
      corpus, "embedding", "vec_id", cents, s"$tmp/ivf8")
    val df = graft.pipeline.PartitionedAnn.ivfTopKPartitionedInt8(spark,
      s"$tmp/ivf8", e.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      "embedding", "vec_id", k = 5, cents, nprobe = 2)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("cent_id") && pf.contains(" IN "), pf)
    val sch = spark.read.parquet(s"$tmp/ivf8").schema("q").dataType
    assert(sch === org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, true), sch.toString)
  }

  test("IVF+PQ partitioned ANN: probed centroids prune; files hold only code arrays") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("annpq").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    val cw = graft.pipeline.Similarity.pqCodewords(
      corpus.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
      numSub = 8, subDim = 8).localCheckpoint()
    graft.pipeline.PartitionedAnn.writeIvfPqPartitioned(
      corpus, "embedding", "vec_id", cents, cw, s"$tmp/ivfpq",
      numSub = 8, subDim = 8)
    val df = graft.pipeline.PartitionedAnn.ivfPqTopKPartitioned(spark,
      s"$tmp/ivfpq", e.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 5, cents, cw, nprobe = 2, subDim = 8)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("cent_id") && pf.contains(" IN "), pf)
    // the at-rest index is codes-only: 8 ints per vector, NO float
    // vector column anywhere in the layout
    val sch = spark.read.parquet(s"$tmp/ivfpq").schema
    assert(sch.fieldNames.sorted.toSeq === Seq("c_id", "cent_id", "codes"),
      sch.treeString)
    assert(sch("codes").dataType === org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, true), sch.treeString)
  }

  test("IVF+PQ refined: BOTH layout scans prune on the probed cent_ids") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("annref").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    val cw = graft.pipeline.Similarity.pqCodewords(
      corpus.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
      numSub = 8, subDim = 8).localCheckpoint()
    graft.pipeline.PartitionedAnn.writeIvfPqPartitioned(
      corpus, "embedding", "vec_id", cents, cw, s"$tmp/codes",
      numSub = 8, subDim = 8)
    graft.pipeline.PartitionedAnn.writeIvfPartitioned(
      corpus, "embedding", "vec_id", cents, s"$tmp/floats")
    val df = graft.pipeline.PartitionedAnn.ivfPqTopKRefined(spark,
      s"$tmp/codes", s"$tmp/floats", e.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 5, refine = 20, cents, cw,
      nprobe = 2, subDim = 8)
    // the refine stage's float read must carry the probe set as a
    // literal partition filter just like the coarse codes read — the
    // float layout is only ever touched inside probed clusters
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains(" IN "))
      .toSeq
    assert(pf.size >= 2,
      s"expected cent_id IN (...) PartitionFilters on the codes AND float scans:\n${pf.mkString("\n")}")
    assert(pf.forall(_.contains("cent_id")), pf.mkString("\n"))
  }

  test("binary partitioned ANN: own-bucket pruning; pages hold packed words only") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("annbin").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    graft.pipeline.PartitionedAnn.writeBinaryPartitioned(
      e.filter(col("vec_id") >= 10), "embedding", "vec_id",
      s"$tmp/bin", dim = 64, bucketBits = 4)
    val df = graft.pipeline.PartitionedAnn.binaryTopKPartitioned(spark,
      s"$tmp/bin", e.filter(col("vec_id") < 3), "embedding", "vec_id",
      k = 5, dim = 64, bucketBits = 4)
    val pf = df.queryExecution.explainString(FormattedMode)
      .linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("bucket") && pf.contains(" IN "), pf)
    // the layout stores ONLY the packed words — no float vector column
    val sch = spark.read.parquet(s"$tmp/bin").schema
    assert(sch.fieldNames.sorted.toSeq === Seq("bucket", "c_bits", "c_id"),
      sch.treeString)
    assert(sch("c_bits").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType], sch.treeString)
    assert(sch("c_bits").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.LongType,
      sch.treeString)
  }

  test("pp_dsir_weights: scoring action scans the corpus once; model comes off the checkpoint") {
    // round-18 shape: both models derive from ONE eagerly-checkpointed
    // (gram, c_t, c_r) table whose row count is the scoring join's
    // broadcast-gate hint (the old single-action ReusedExchange share
    // force-broadcast a 100 TB-gram-vocabulary model). The scoring
    // action must therefore scan documents exactly once — the model
    // side reads checkpoint blocks (ScanExistingRDD), not the corpus.
    // AdaptiveSparkPlanExec.toString prints Final AND Initial plan
    // sections — count scans in the final section only
    def finalPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    }
    val p = finalPlan(
      SparkEntry.queries("pp_dsir_weights")(spark, sf("sf0.001")))
    val corpusScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents.parquet"))
    assert(corpusScans === 1,
      s"scoring action should scan the corpus exactly once:\n$p")
    assert(p.contains("ExistingRDD"),
      s"model side should read the checkpointed byGram blocks:\n$p")
    // and the at-rest twin never trains at apply time: one corpus
    // scan for occurrences + the persisted model files
    val pa = finalPlan(
      SparkEntry.queries("pp_dsir_weights_at_rest")(spark, sf("sf0.001")))
    assert(pa.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents.parquet")) === 1,
      s"at-rest apply should scan the corpus exactly once:\n$pa")
    assert(pa.contains("dsir_model_n2_en"),
      s"at-rest apply should read the persisted model:\n$pa")
  }

  test("at-rest span index: the scrub never re-tokenizes the corpus") {
    // "tokenize once, scrub cheap": the probe plan must read the
    // persisted token/gram stores only — no regexp split, no
    // word_ngrams reconstruction anywhere in the scrub plan (the
    // scan-dominant cost the inline form pays per call)
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("spanplan").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.pipeline.TextAnalysis.writeSpanIndex(docs, "text", "doc_id",
      tmp, n = 5, buckets = 16)
    val df = graft.pipeline.TextAnalysis.exactSubstringScrubAtRest(
      spark, tmp, minCount = 2)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("word_ngrams") && !p.contains("split("),
      "at-rest scrub re-derives grams/tokens:\n" + p)
    // both stores are actually scanned (tokens for the rebuild, the
    // bucketed grams for span coverage)
    assert(p.contains("/tokens") && p.contains("/grams"), p)
    // the incremental form keeps the property over base ∪ deltas
    val root = tempDir("spanplan2").toString
    graft.pipeline.TextAnalysis.writeSpanIndex(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
      s"$root/base", n = 5, buckets = 16)
    graft.streaming.SpanStream.appendBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, root, "text",
      "doc_id", n = 5, buckets = 16)
    val inc = graft.streaming.SpanStream.scrubIncremental(spark, root,
      minCount = 2)
    val pi = inc.queryExecution.explainString(FormattedMode)
    assert(!pi.contains("word_ngrams") && !pi.contains("split("), pi)
  }

  test("pp_mixture: one window pass, no join for the quota lookup") {
    val p = plan("pp_mixture")
    assert(p.contains("Window"), p)
    assert(!p.toLowerCase.contains("join"), p)
    // the operator itself (before the gate's output ORDER BY) costs
    // exactly one shuffle: the window's hash partition by source
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val op = graft.pipeline.Sampling.mixtureSample(d, "doc_id", "source",
        Map("src0" -> 20, "src1" -> 5), defaultQuota = 10)
      .queryExecution.explainString(FormattedMode)
    assert("\\(\\d+\\) Exchange".r.findAllIn(op).size === 1, op)
  }

  test("q49: dim-side filter prunes the month-partitioned fact scan via dynamic partition pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case s: FileSourceScanExec => Seq(s)
                  case q: QueryStageExec => scans(q.plan) }.flatten
    val df = SparkEntry.queries("q49_dpp")(spark, sf("sf0.001"))
    // logical proof: the fact scan's partition filter is the RUNTIME
    // dim-side subquery, not a static literal
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    // physical proof: only the three Q2-1997 month partitions are read
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(finalPlan).find(
      _.relation.location.rootPaths.exists(
        _.toString.contains("orders_by_month")))
      .getOrElse(fail(s"no month-partitioned fact scan in:\n$finalPlan"))
    val partsRead = scan.metrics("numPartitions").value
    val totalMonths = scan.relation.location.rootPaths.headOption
      .map(r => Option(new java.io.File(r.toUri.getPath).listFiles())
        .toSeq.flatten.count(_.getName.startsWith("om="))).getOrElse(0)
    assert(partsRead <= 3,
      s"DPP should prune to the 3 Q2-1997 months, read $partsRead " +
        s"of $totalMonths")
  }

  test("q50: bucketed layouts make the SortMergeJoin exchange-free") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q50_bucketed_join")(spark, sf("sf0.001"))
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case q: QueryStageExec => expand(q.plan)
                  case n => Seq(n) }.flatten
    val nodes = expand(finalPlan)
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail(s"no SortMergeJoin in:\n$finalPlan"))
    // both inputs come straight from the bucketed scans: no shuffle,
    // no per-query sort anywhere under the join
    val under = expand(smj.left) ++ expand(smj.right)
    assert(!under.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"bucketed join must not shuffle its inputs:\n$smj")
    // per-bucket SortExecs remain: since 3.0 Spark no longer reports
    // bucket sort order from the scan (the one-file-per-bucket
    // contract was deemed too fragile; legacy conf
    // spark.sql.legacy.bucketedTableScan.outputOrdering restores it).
    // The sort is bucket-local and spill-free — the exchange is the
    // cost that matters at 100 TB, and it is gone.
    assert(smj.toString.contains("Bucketed: true"),
      s"both sides must read bucketed scans:\n$smj")
  }

  test("z-order box query: bucket set becomes literal PartitionFilters and prunes the scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.col
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case s: FileSourceScanExec => Seq(s)
                  case q: QueryStageExec => scans(q.plan) }.flatten
    val df = SparkEntry.queries("q48_zorder_pruned")(spark, sf("sf0.001"))
    val p = df.queryExecution.explainString(FormattedMode)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("zb"), p)
    assert(pf.contains(" IN "), pf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(finalPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("zorder")))
      .getOrElse(fail(s"no z-ordered scan in:\n$finalPlan"))
    val partsRead = scan.metrics("numPartitions").value
    val totalBuckets = scan.relation.location.rootPaths.headOption
      .map(r => Option(new java.io.File(r.toUri.getPath).listFiles())
        .toSeq.flatten.count(_.getName.startsWith("zb="))).getOrElse(0)
    assert(partsRead < totalBuckets,
      s"no pruning: read $partsRead of $totalBuckets z-buckets")
    assert(partsRead <= 6,
      s"the 1997 x [100k,200k) box overlaps 6 buckets, read $partsRead")
  }

  test("5-gram KN apply: every model join broadcasts at gate scale, none falls to sort-merge") {
    // the chain's grids are vocabulary-sized and ride the
    // derivation-time size gate (hints carried on KnChain / stamped
    // into the model store since round 16); under the cap they must
    // all broadcast — a SortMergeJoin here means the corpus side is
    // being shuffled per model lookup (the round-14 sf10 audit bug
    // class). The gate's over-cap degradation to a shuffle join is
    // by design and NOT exercised at fixture scale. The apply plan
    // is now a pure read of the persisted chain, so the ladder is
    // exactly the 9 model joins (gridTop, λtop, p4/λ4, p3/λ3,
    // p2/λ2, cont) — the derivation joins live in the warm-time
    // cache build, not here.
    val p = plan("ta_ngram_lm_kn5")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side model join fell to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val n = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(n >= 9, s"expected the full backoff join ladder, got $n")
  }

  test("at-rest curation twins read their stores, not extra corpus passes") {
    // the production claim behind round 17's at-rest twins: the
    // stored hot-line set / val index replaces corpus-side recompute.
    // Count the parquet scans of the corpus in the static plan —
    // inline boilerplate scans documents twice (hot-set count +
    // scrub), the at-rest form exactly once; the at-rest split reads
    // the persisted index (2 scans of split_val_idx) and fewer
    // corpus passes than the inline form's 5.
    def docScans(name: String): Int =
      plan(name).linesIterator.count(l =>
        l.contains("Location") && l.contains("documents.parquet"))
    // round-18: the inline form eagerly checkpoints its hot set, so
    // the SCRUB action scans the corpus once (the hot-set derivation
    // pays its own scan in the checkpoint job — still one more total
    // pass than the at-rest form, which reads a persisted hot set)
    assert(docScans("ta_boilerplate") === 1,
      "inline scrub action should scan the corpus once (hot set " +
        "checkpointed)")
    assert(docScans("ta_boilerplate_at_rest") === 1,
      "at-rest scrub must scan the corpus exactly once")
    val sp = plan("pp_split_decontam_at_rest")
    assert(sp.contains("split_val_idx"),
      "val side must come from the persisted index")
    assert(docScans("pp_split_decontam_at_rest") <
      docScans("pp_split_decontam"))
  }

  test("gateBySize: hint under the cap broadcasts, over the cap degrades to a shuffle join") {
    // round-17 contract closing the last forced-broadcast class: every
    // per-word model table (NB loglik grid, LM unigram/λ/continuation
    // tiers) joins through the size gate, so a 100 TB-vocabulary model
    // falls back to a shuffle join instead of failing the job at the
    // broadcast ceiling. With the size-estimate threshold disabled the
    // HINT alone decides the strategy — exactly the production setting
    // where estimates on derived grids are unreliable and the stamped
    // row count is the contract.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.pipeline.{Classify, TextAnalysis}
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val toks = d.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val counts = Classify.tokenCounts(d, "text", "lang")
    def physical(m: DataFrame): String = {
      val df = toks.join(m, Seq("token"))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      df.collect()
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).toString
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val under = physical(TextAnalysis.gateBySize(counts, 10L))
      assert(under.contains("BroadcastHashJoin"),
        s"gate declined a broadcast under the cap:\n$under")
      val over = physical(TextAnalysis.gateBySize(counts, 4000001L))
      assert(!over.contains("BroadcastHashJoin"),
        s"over-cap hint still forced a broadcast:\n$over")
      assert(over.contains("SortMergeJoin") ||
        over.contains("ShuffledHashJoin"),
        s"over-cap model join should degrade to a shuffle join:\n$over")
      // and the real NB apply path at gate scale: the derivation-time
      // hint is small, so the grid join must still broadcast even
      // with the size-estimate threshold off
      val model = Classify.nbModelFromCounts(counts)
      val priors = Classify.nbPriors(d, "lang")
      val applied = Classify.nbApply(d, model, priors, "text", "doc_id")
      applied.collect()
      val ap = (applied.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).toString
      assert(ap.contains("BroadcastHashJoin"),
        s"NB model grid join lost its gate-scale broadcast:\n$ap")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("tokenize/DSIR joins are size-gated: broadcast under the cap, shuffle over it") {
    // round-18: the round-17 verdict's two surviving forced-broadcast
    // sites. tokenizeWith's segmentation keys the corpus's distinct
    // WORD TYPES and dsirWeights' model the corpus's gram types —
    // both 10⁸-10⁹ rows at 100 TB, where a forced broadcast fails the
    // job instead of degrading. The hints are measured internally at
    // derivation time, so the over-cap branch is pinned by lowering
    // the gate's cap override rather than by faking a giant corpus.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.pipeline.{Sampling, TextAnalysis}
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def executed(df: DataFrame): String = {
      df.collect()
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).toString
    }
    def tok() = TextAnalysis.bpeTokenizeFast(d, "text", "doc_id",
      Seq(("t", "h"), ("th", "e")))
    def dsir() = Sampling.dsirWeights(d, "text", "doc_id",
      col("lang") === "en", n = 2)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // size-estimate threshold off: the gate ALONE decides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tokUnder = executed(tok())
      assert(tokUnder.contains("BroadcastHashJoin"),
        s"gate-scale segmentation join lost its broadcast:\n$tokUnder")
      val dsirUnder = executed(dsir())
      assert(dsirUnder.contains("BroadcastHashJoin"),
        s"gate-scale DSIR model join lost its broadcast:\n$dsirUnder")
      spark.conf.set("spark.graft.broadcastGate.maxRows", "0")
      val tokOver = executed(tok())
      assert(!tokOver.contains("BroadcastHashJoin"),
        s"over-cap segmentation join still forced a broadcast:\n$tokOver")
      assert(tokOver.contains("SortMergeJoin") ||
        tokOver.contains("ShuffledHashJoin"), tokOver)
      val dsirOver = executed(dsir())
      assert(!dsirOver.contains("BroadcastHashJoin"),
        s"over-cap DSIR model join still forced a broadcast:\n$dsirOver")
      assert(dsirOver.contains("SortMergeJoin") ||
        dsirOver.contains("ShuffledHashJoin"), dsirOver)
    } finally {
      spark.conf.unset("spark.graft.broadcastGate.maxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("supersede sidecars are size-gated: broadcast under the cap, shuffle over it") {
    // round-19: the round-18 verdict's surviving forced-broadcast
    // class. The BM25/LSH supersede sidecars grow with re-arrivals
    // since the last compaction — corpus-scale for re-crawl-heavy
    // corpora — so the anti-joins route through gateBySize with
    // observe-stamped per-batch _ROWS counts. Over-cap is pinned via
    // the gate's cap override (the tokenize/DSIR technique); the hint
    // is a pure driver listing, so rebuilding the frame re-reads it.
    import org.apache.spark.sql.functions.{concat, lit}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.pipeline.Retrieval
    import graft.streaming.{Bm25Stream, LshStream}
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def executed(df: DataFrame): String = {
      df.collect()
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).toString
    }
    // BM25: base + one re-crawl batch ⇒ non-empty stamped sidecar
    val root = tempDir("graft-plan-bm25").toString
    Retrieval.writeBm25Index(docs.filter($"doc_id" < 120), "text",
      "doc_id", s"$root/base", buckets = 8)
    Bm25Stream.appendBatch(
      docs.filter($"doc_id" % 7 === 0 && $"doc_id" < 120)
        .withColumn("text", concat($"text", lit(" zz probe"))),
      1L, root, "text", "doc_id", buckets = 8)
    // LSH: two batches where batch 1 re-arrives batch-0 keys ⇒
    // non-empty stamped sidecar; livePrior for a later batch joins it
    val lsh = tempDir("graft-plan-lsh").toString
    LshStream.processBatch(docs.filter($"doc_id" < 60), 0L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    LshStream.processBatch(
      docs.filter($"doc_id" >= 40 && $"doc_id" < 80), 1L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    def lshPrior() = LshStream.livePrior(spark, s"$lsh/bands", 2L,
      "doc_id",
      docs.filter($"doc_id" >= 80 && $"doc_id" < 85)
        .select($"doc_id").distinct(),
      docs.select($"doc_id", lit(0).as("band"),
        lit("").as("band_hash")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // size-estimate threshold off: the gate ALONE decides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bmUnder = executed(Bm25Stream.layout(spark, root))
      assert(bmUnder.contains("BroadcastHashJoin"),
        s"small BM25 sidecar anti-join lost its broadcast:\n$bmUnder")
      assert(!bmUnder.contains("SortMergeJoin"), bmUnder)
      val lshUnder = executed(lshPrior())
      assert(!lshUnder.contains("SortMergeJoin"),
        s"small LSH sidecar anti-join degraded to a shuffle:\n$lshUnder")
      spark.conf.set("spark.graft.broadcastGate.maxRows", "0")
      val bmOver = executed(Bm25Stream.layout(spark, root))
      assert(!bmOver.contains("BroadcastHashJoin"),
        s"over-cap BM25 sidecar still forced a broadcast:\n$bmOver")
      assert(bmOver.contains("SortMergeJoin") ||
        bmOver.contains("ShuffledHashJoin"), bmOver)
      val lshOver = executed(lshPrior())
      assert(lshOver.contains("SortMergeJoin") ||
        lshOver.contains("ShuffledHashJoin"),
        s"over-cap LSH sidecar still forced a broadcast:\n$lshOver")
      // the batch's own keys stay force-broadcast — micro-batch-
      // bounded by construction, not part of the gated class
      assert(lshOver.contains("BroadcastHashJoin"), lshOver)
    } finally {
      spark.conf.unset("spark.graft.broadcastGate.maxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("ev_enrich: the un-forced user-dim join still broadcasts a small dim") {
    // round-19: the forced broadcast(userDim) hint was dropped (a
    // production user dimension is 10⁸-10⁹ rows — the hint turned a
    // degradable stream-static join into a hard failure). Catalyst
    // must still pick the broadcast for a gate-scale dim from its own
    // size estimate.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("ev_enrich")(spark, sf("sf0.001"))
    df.collect()
    val p = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).toString
    assert(p.contains("BroadcastHashJoin"),
      s"small customer dim no longer broadcasts:\n$p")
  }
}
