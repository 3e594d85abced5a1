package graft

import graft.streaming.{EventStream, NormalizedEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming behavior: the same transforms the ev_* batch
  * queries pin via the oracle, driven through MemoryStream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The driver's events.parquet `ts` physical type has changed across
    * dataset generations (TIMESTAMP(NANOS) → nanos-long under the
    * nanosAsLong conf, vs plain timestamp[us]). MemoryStream fixtures
    * feed nanos-longs, so the stream side reads through this normalizer
    * while the batch `expected` side consumes the RAW frame — every
    * stream-vs-batch parity case below therefore also pins that the two
    * type paths of EventStream.tsSecCol agree. */
  private def nanosTs(df: org.apache.spark.sql.DataFrame) =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp_ltz)) * 1000"))
    }

  test("events.parquet physical ts contract is one the engine handles") {
    // A pointed canary: if the driver regenerates testdata with a THIRD
    // physical type for events.ts, this fails with one clear message
    // instead of five scattered DATATYPE_MISMATCH analysis errors
    // (exactly what happened when TIMESTAMP(NANOS) became
    // timestamp[us] between rounds 8 and 9).
    for (dir <- Seq("sf0.001")) {
      val df = spark.read.parquet(sf(dir) + "/events.parquet")
      val dt = df.schema("ts").dataType
      assert(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType,
        s"events.ts arrived as $dt — extend EventStream.tsSecCol/" +
          "tsMicrosCol (and the nanosTs test helper) for the new contract")
      // and the adaptive reader actually works on the real file
      val n = EventStream.normalize(df).filter($"ts_sec" > 0).count()
      assert(n > 0, "normalize produced no positive ts_sec rows")
    }
  }

  test("windowed aggregates over a stream match the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val expected = EventStream.windowedAggregates(batchDf)
      .orderBy($"bucket_start", $"event_type")
      .as[(Long, String, Long, Double)].collect().toSeq

    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.windowedAggregates(streamDf)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      val rows = nanosTs(batchDf)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[(Long, Long, Long, String, Double)].collect()
      source.addData(rows.toSeq)
      q.processAllAvailable()
      // watermark advances on the next (empty-triggering) batch
      source.addData(Seq.empty)
      q.processAllAvailable()
      val got = spark.table("win_out")
        .orderBy($"bucket_start", $"event_type")
        .as[(Long, String, Long, Double)].collect().toSeq
      // append mode emits only windows the watermark has passed — all
      // but the tail of the stream
      assert(got.nonEmpty)
      assert(got.toSet.subsetOf(expected.toSet))
      assert(got.size >= expected.size - 8,
        s"only ${got.size} of ${expected.size} windows emitted")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from append output") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.windowedAggregates(streamDf)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def ns(sec: Long): Long = sec * 1000000000L
    try {
      // watermark = max(event_ts) - 10min; window [0,300) closes once
      // the watermark passes 300s
      source.addData(Seq((1L, ns(10), 1L, "x", 1.0),
        (2L, ns(1200), 1L, "x", 1.0)))
      q.processAllAvailable()
      // late arrival into the already-closed [0,300) window
      source.addData(Seq((3L, ns(50), 1L, "x", 1.0)))
      q.processAllAvailable()
      // advance far enough to flush every window
      source.addData(Seq((4L, ns(7200), 1L, "x", 1.0)))
      q.processAllAvailable()
      source.addData(Seq.empty)
      q.processAllAvailable()
      val bucket0 = spark.table("late_out")
        .filter($"bucket_start" === 0L)
        .select($"n_events").as[Long].collect()
      // the late event never lands: bucket 0 keeps exactly 1 event
      assert(bucket0.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("props JSON stats: malformed JSON and absent keys count as unparsed, never throw") {
    val ev = Seq(
      (0L, "a", """{"k": 5}"""), (1L, "a", """{"k": 7}"""),
      (2L, "a", """not json at all"""), // malformed → NULL struct
      (3L, "b", """{"other": 1}"""), // valid JSON, key absent
      (4L, "b", """{"k": null}""")) // key present, null value
      .toDF("event_id", "event_type", "props")
    val r = EventStream.propsJsonStats(ev)
      .orderBy($"event_type")
      .as[(String, Long, Long, Option[Long], Option[Int], Option[Int])]
      .collect().toSeq
    assert(r === Seq(
      ("a", 3L, 2L, Some(12L), Some(5), Some(7)),
      ("b", 2L, 0L, None, None, None)))
  }

  test("daily anomalies: modified z-score flags the spike; MAD=0 falls back to inequality") {
    def ns(sec: Long): Long = sec * 1000000000L
    // type "a": varied baseline (MAD=1) plus a 100-event spike day;
    // type "b": constant 5/day except one 6-event day (MAD=0 path)
    val countsA = Seq(8, 9, 10, 10, 11, 12, 100)
    val countsB = Seq(5, 5, 5, 6, 5)
    var id = 0L
    val rows = (countsA.zipWithIndex.flatMap { case (c, day) =>
      (0 until c).map { i =>
        id += 1; (id, ns(day * 86400L + i), 1L, "a", 0.0)
      }
    } ++ countsB.zipWithIndex.flatMap { case (c, day) =>
      (0 until c).map { i =>
        id += 1; (id, ns(day * 86400L + i), 2L, "b", 0.0)
      }
    }).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.dailyAnomalies(rows)
      .select($"event_type", $"day", $"n", $"z_score", $"is_anomaly")
      .as[(String, Long, Long, Option[Double], Boolean)]
      .collect().toSeq
    val a = r.filter(_._1 == "a").map(x => (x._2, x._3, x._4, x._5))
    // median 10, MAD 1 → spike day z = 0.6745*90 = 60.705
    assert(a.filter(_._4) === Seq((6L, 100L, Some(60.705), true)))
    assert(a.find(_._1 == 0L).get._3 === Some(-1.349))
    val b = r.filter(_._1 == "b")
    // MAD=0: z is NULL everywhere; only the 6-event day deviates
    assert(b.forall(_._4.isEmpty))
    assert(b.filter(_._5).map(_._2) === Seq(3L))
  }

  test("funnel: a step only counts strictly after the previous step") {
    def ns(sec: Long): Long = sec * 1000000000L
    // user 1 completes in order; user 2's click PRECEDES their view
    // (must not count); user 3 stops at view
    val ev = Seq(
      (0L, ns(1), 1L, "view", 0.0), (1L, ns(2), 1L, "click", 0.0),
      (2L, ns(3), 1L, "purchase", 0.0),
      (3L, ns(1), 2L, "click", 0.0), (4L, ns(2), 2L, "view", 0.0),
      (5L, ns(1), 3L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.funnelReport(ev, Seq("view", "click", "purchase"))
      .orderBy($"step")
      .select($"step", $"event_type", $"n_users", $"conversion")
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(r === Seq((1, "view", 3L, 1.0), (2, "click", 1L, 0.333),
      (3, "purchase", 1L, 1.0)))
  }

  test("funnel: unreached steps emit zero rows, conversion 0.0 after an empty step") {
    def ns(sec: Long): Long = sec * 1000000000L
    // nobody clicks: steps 2 and 3 must still appear (report shape is
    // a function of the configuration), with n_users 0 and conversion
    // 0/3 → 0.0, then 0-after-empty → 0.0 (not a missing row, not 0/0)
    val ev = Seq(
      (0L, ns(1), 1L, "view", 0.0), (1L, ns(2), 2L, "view", 0.0),
      (2L, ns(3), 3L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.funnelReport(ev, Seq("view", "click", "purchase"))
      .orderBy($"step")
      .select($"step", $"event_type", $"n_users", $"conversion")
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(r === Seq((1, "view", 3L, 1.0), (2, "click", 0L, 0.0),
      (3, "purchase", 0L, 0.0)))
  }

  test("cohort retention: first active day cohorts, exact offset counts") {
    def ns(day: Long): Long = day * 86400L * 1000000000L
    // users 1,2 start day 0 (1 returns day 1); user 3 starts day 1
    val ev = Seq(
      (0L, ns(0), 1L, "view", 0.0), (1L, ns(1), 1L, "view", 0.0),
      (2L, ns(0), 2L, "view", 0.0),
      (3L, ns(1), 3L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.cohortRetention(ev)
      .orderBy($"cohort_day", $"day_offset")
      .select($"cohort_day", $"day_offset", $"n_active", $"retention")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq((0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5),
      (1L, 0L, 1L, 1.0)))
  }

  test("streaming XML ingest converts files as they appear") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val in = tempDir("graft-stream-in")
    val out = tempDir("graft-stream-out").toString
    val ckpt = tempDir("graft-stream-ckpt").toString
    Files.copy(Paths.get(s"$fixturesDir/simple.xml"),
      in.resolve("simple.xml"), StandardCopyOption.REPLACE_EXISTING)
    val q = graft.streaming.XmlStreamIngest.run(spark, in.toString, out,
      ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      val nodes1 = spark.read.parquet(s"$out/nodes")
      assert(nodes1.count() === 4) // simple.xml's identified nodes
      // a new file appears → next micro-batch picks it up
      Files.copy(Paths.get(s"$fixturesDir/sample_library.xml"),
        in.resolve("sample_library.xml"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val nodes2 = spark.read.parquet(s"$out/nodes")
      assert(nodes2.count() === 40)
      assert(nodes2.filter($"document_id" === "sample_library").count()
        === 36)
      // a later batch rewrites the same document (same basename ⇒ same
      // ids); compaction must keep only the newest version per key
      val sub = in.resolve("v2")
      Files.createDirectories(sub)
      val v2 = new String(Files.readAllBytes(
        Paths.get(s"$fixturesDir/simple.xml")), "UTF-8")
        .replace("Hello World", "Hello Again")
      Files.write(sub.resolve("simple.xml"), v2.getBytes("UTF-8"))
      q.processAllAvailable()
      graft.streaming.XmlStreamIngest.compact(spark, out)
      val compacted = spark.read.parquet(s"$out/compacted/nodes")
      assert(compacted.count() === 40) // one version per node id
      assert(compacted.filter($"id" === "child_1")
        .select($"content").as[String].head() === "Hello Again")
      assert(!compacted.columns.contains("_batch"))
      // the streaming-upsert equivalence: multi-batch stream + compact
      // == one batch ingest of the final file state (v2 of simple.xml
      // plus sample_library.xml), row-for-row on every deterministic
      // column (created_at is an ingest wall clock; filename/file paths
      // differ by construction)
      val finalState = tempDir("graft-stream-final")
      Files.write(finalState.resolve("simple.xml"), v2.getBytes("UTF-8"))
      Files.copy(Paths.get(s"$fixturesDir/sample_library.xml"),
        finalState.resolve("sample_library.xml"),
        StandardCopyOption.REPLACE_EXISTING)
      val batch = graft.ingest.XmlIngest.ingest(spark, finalState.toString)
      val nodeCols = Seq("id", "node_type", "document_id", "parent_id",
        "position", "content", "xpath")
      def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.select(cols.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("\u0000")).toSeq.sorted
      assert(rows(compacted, nodeCols) === rows(batch.nodes, nodeCols))
      val propCols = Seq("node_id", "property_name", "property_value",
        "data_type", "document_id")
      assert(rows(spark.read.parquet(s"$out/compacted/node_properties"),
        propCols) === rows(batch.properties, propCols))
      assert(rows(spark.read.parquet(s"$out/compacted/documents"),
        Seq("id", "file_size")) ===
        rows(batch.documents, Seq("id", "file_size")))
    } finally q.stop()
  }

  test("compaction merges mixed-schema batches from before a column addition") {
    // an output dir whose early batches predate the documents
    // file_hash column: compact must surface the widest schema (old
    // rows null) instead of silently taking one footer's view
    val out = tempDir("graft-mixed").toString
    Seq(("doc_a", "doc_a.xml", 10L, 0L))
      .toDF("id", "filename", "file_size", "_batch")
      .write.mode("append").parquet(s"$out/documents")
    Seq(("doc_a", "doc_a.xml", "abc123", 12L, 1L),
        ("doc_b", "doc_b.xml", "def456", 20L, 1L))
      .toDF("id", "filename", "file_hash", "file_size", "_batch")
      .write.mode("append").parquet(s"$out/documents")
    Seq(("n1", "t", "doc_a", Option.empty[String], 0, 0L))
      .toDF("id", "node_type", "document_id", "parent_id", "position",
        "_batch")
      .write.mode("append").parquet(s"$out/nodes")
    Seq(("n1", "p", "v", 0L))
      .toDF("node_id", "property_name", "property_value", "_batch")
      .write.mode("append").parquet(s"$out/node_properties")
    graft.streaming.XmlStreamIngest.compact(spark, out)
    val docs = spark.read.parquet(s"$out/compacted/documents")
    assert(docs.columns.contains("file_hash"), docs.columns.mkString(","))
    val byId = docs.select($"id", $"file_hash", $"file_size")
      .as[(String, Option[String], Long)].collect().sortBy(_._1).toSeq
    // last-write-wins picked the batch-1 doc_a, which carries the hash
    assert(byId === Seq(("doc_a", Some("abc123"), 12L),
      ("doc_b", Some("def456"), 20L)))
  }

  test("scan-local text analysis runs unchanged on a stream (== batch)") {
    // repetitionStats/qualityMetrics are stateless column programs, so
    // the same call compiles to a streaming plan untouched — the
    // batch/stream unification that makes the pipeline's quality
    // filters reusable in a continuous ingestion path
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.repetitionStats(
        graft.pipeline.TextAnalysis.qualityMetrics(df, "text"), "text", 3)
        .select($"doc_id", $"n_tokens", $"quality_score", $"dup_fraction",
          md5(graft.pipeline.TextAnalysis.redactPii($"text")).as("red"),
          graft.pipeline.TextAnalysis.langId($"text").as("lid"))
    val expected = score(batchDf)
      .as[(Long, Long, Double, Double, String, String)].collect().toSet

    val source = MemoryStream[(Long, String)]
    val q = score(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ta_stream_out")
      .outputMode("append").start()
    try {
      source.addData(batchDf.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      val got = spark.table("ta_stream_out")
        .as[(Long, Long, Double, Double, String, String)].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("weak labels run unchanged on a stream (== batch)") {
    // weakLabels is a stateless column program over repetitionStats —
    // the LF votes attach to a continuous ingestion path for free
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    def label(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.weakLabels(df, "text", "doc_id")
        .select($"doc_id", $"lf_len", $"lf_stop", $"lf_rep",
          $"weak_label")
    val expected = label(batchDf)
      .as[(Long, Int, Int, Int, String)].collect().toSet
    val source = MemoryStream[(Long, String)]
    val q = label(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("wl_stream_out")
      .outputMode("append").start()
    try {
      source.addData(batchDf.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      val got = spark.table("wl_stream_out")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("native session_window over a stream matches the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val expected = EventStream.sessionWindows(batchDf)
      .as[(Long, Long, Long, Long)].collect().toSet

    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // streaming session windows need a watermark to close sessions;
    // append mode emits a session once the watermark passes its end
    val q = EventStream.sessionWindowsTimed(
        EventStream.withEventTime(streamDf)
          .withWatermark("event_ts", "10 minutes"))
      .writeStream.format("memory").queryName("sess_native_out")
      .outputMode("append").start()
    try {
      source.addData(nanosTs(batchDf)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[(Long, Long, Long, String, Double)].collect().toSeq)
      q.processAllAvailable()
      source.addData(Seq.empty) // advance the watermark
      q.processAllAvailable()
      val got = spark.table("sess_native_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      // append emits only watermark-closed sessions — everything but
      // each user's tail session
      assert(got.nonEmpty)
      assert(got.subsetOf(expected))
      assert(got.size >= expected.size - batchDf
        .select($"user_id").distinct().count().toInt)
    } finally q.stop()
  }

  test("stateful sessionization matches the batch window form") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val expected = EventStream.sessionizeBatch(
      EventStream.normalize(batchDf).toDF())
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val source = MemoryStream[NormalizedEvent]
    val q = EventStream.sessionize(source.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    try {
      val events = EventStream.normalize(batchDf).collect()
      // feed in two chronological chunks to exercise state carry-over
      val (first, second) = events.sortBy(e => (e.ts_sec, e.event_id))
        .splitAt(events.length / 2)
      source.addData(first.toSeq)
      q.processAllAvailable()
      source.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .groupBy($"user_id")
        .agg(max($"n_sessions").as("n_sessions"),
          max($"n_events").as("n_events"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val expected = EventStream.purchaseClickJoin(batchDf)
      .select($"purchase_id", $"click_id").as[(Long, Long)]
      .collect().toSet
    assert(expected.nonEmpty, "fixture data yields no join pairs")

    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.purchaseClickJoin(streamDf)
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    try {
      val rows = nanosTs(batchDf)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[(Long, Long, Long, String, Double)].collect()
      source.addData(rows.toSeq)
      q.processAllAvailable()
      source.addData(Seq.empty)
      q.processAllAvailable()
      val got = spark.table("ivj_out")
        .select($"purchase_id", $"click_id").as[(Long, Long)]
        .collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched purchases with nulls") {
    implicit val sqlCtx = spark.sqlContext
    val batchDf = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val expected = EventStream.purchaseClickJoinOuter(batchDf)
      .select($"purchase_id", $"click_id")
      .as[(Long, Option[Long])].collect().toSet
    val unmatched = expected.collect { case (p, None) => p }
    assert(unmatched.nonEmpty, "fixture has no attribution-gap purchases")
    assert(expected.exists(_._2.isDefined), "fixture has no matched pairs")

    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.purchaseClickJoinOuter(streamDf)
      .writeStream.format("memory").queryName("ivjl_out")
      .outputMode("append").start()
    try {
      source.addData(nanosTs(batchDf)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[(Long, Long, Long, String, Double)].collect().toSeq)
      q.processAllAvailable()
      // far-future ticks on BOTH sides push both event-time watermarks
      // (the global watermark is their min) past every join window so
      // the null rows for unmatched purchases flush; a filtered-out
      // event type would advance neither. The tick user (-1) matches
      // nothing, and the tick purchase itself stays unflushed at the
      // stream tail — excluded below by purchase_id >= 0.
      val maxNs = nanosTs(batchDf).agg(max($"ts")).as[Long].head()
      val far = maxNs + 10L * 3600 * 1000000000L
      source.addData(Seq((-1L, far, -1L, "click", 0.0),
        (-2L, far, -1L, "purchase", 0.0)))
      q.processAllAvailable()
      source.addData(Seq.empty)
      q.processAllAvailable()
      val got = spark.table("ivjl_out")
        .filter($"purchase_id" >= 0)
        .select($"purchase_id", $"click_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-static enrichment matches the batch join, keeps unmatched") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.enriched(streamDf, dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      source.addData(Seq((1L, 1L, 1L, "click", 1.0),
        (2L, 2L, 2L, "view", 2.0), (3L, 3L, 9L, "view", 3.0)))
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select($"event_id", $"tier").as[(Long, Option[String])]
        .collect().toMap
      assert(got === Map(1L -> Some("gold"), 2L -> Some("silver"),
        3L -> None))
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.deduplicated(streamDf)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def ns(sec: Long): Long = sec * 1000000000L
    try {
      // same event_id delivered three times inside the watermark window
      source.addData(Seq((1L, ns(10), 1L, "click", 1.0),
        (1L, ns(12), 1L, "click", 1.0), (2L, ns(20), 1L, "view", 2.0)))
      q.processAllAvailable()
      source.addData(Seq((1L, ns(30), 1L, "click", 1.0),
        (3L, ns(40), 2L, "view", 3.0)))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select($"event_id").as[Long].collect().toSeq.sorted
      assert(got === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("restart from checkpoint recovers dedup+session state exactly-once") {
    // The property a real pipeline relies on: kill a stateful query,
    // deliver more data (including a replay of an already-seen key)
    // while it is down, restart from the SAME checkpointLocation, and
    // the parquet output equals the batch run over the full input —
    // dedup state, session state, and watermark all restored; the file
    // sink's transaction log keeps the output exactly-once.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt").toString
    val outDir = tempDir("graft-rst").toString
    val source = MemoryStream[(Long, Long, Long, String, Double)]
    def ns(sec: Long): Long = sec * 1000000000L
    // dedup → session_window: two chained stateful operators, both
    // carrying state across the restart
    def start() = EventStream.sessionWindowsTimed(
        EventStream.deduplicated(source.toDF()
          .toDF("event_id", "ts", "user_id", "event_type", "value")))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // batch 1: event_id 1 delivered twice (in-flight duplicate)
    source.addData(Seq(
      (1L, ns(100), 1L, "click", 1.0), (1L, ns(100), 1L, "click", 1.0),
      (2L, ns(200), 1L, "click", 1.0), (3L, ns(500), 2L, "view", 2.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // delivered while the query is DOWN: a replay of id 1 (only the
    // restored state store can drop it), a second session for user 1,
    // and a tail event that advances the watermark past every session
    source.addData(Seq(
      (1L, ns(100), 1L, "click", 1.0),
      (4L, ns(10000), 1L, "click", 1.0),
      (5L, ns(100000), 3L, "view", 1.0)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      source.addData(Seq.empty) // watermark advances on the next batch
      q2.processAllAvailable()
    } finally q2.stop()

    // the tail event's own session is still open (watermark has not
    // passed its end) — compare the flushed sessions only
    val got = spark.read.parquet(outDir)
      .filter($"session_start" < 100000L)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val batchIn = Seq(
      (1L, ns(100), 1L, "click", 1.0), (2L, ns(200), 1L, "click", 1.0),
      (3L, ns(500), 2L, "view", 2.0), (4L, ns(10000), 1L, "click", 1.0),
      (5L, ns(100000), 3L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStream.sessionWindows(batchIn)
      .filter($"session_start" < 100000L)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expected.nonEmpty)
    assert(got === expected)
    // exactly-once: no session emitted twice across the restart
    assert(got.map(t => (t._1, t._2)).distinct.size === got.size)
  }

  test("stream LM scoring equals batch scoring with the same trained model") {
    import java.nio.file.Files
    val in = tempDir("graft-lm-in")
    val out = tempDir("graft-lm-out").toString
    val ckpt = tempDir("graft-lm-ckpt").toString
    val train = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    // stream input: fresh docs from the same distribution plus one
    // whose bigrams the model has never seen
    val c1 = train.filter($"doc_id" < 250)
      .withColumn("doc_id", $"doc_id" + lit(10000))
    val c2 = train.filter($"doc_id" >= 250)
      .withColumn("doc_id", $"doc_id" + lit(10000))
      .unionByName(train.limit(1)
        .withColumn("doc_id", lit(99999L))
        .withColumn("text", lit("zebra quark zebra quark")))
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-lm-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    val q = graft.streaming.LmStream.run(spark, train, in.toString, out,
      ckpt, trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(c2, "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select($"doc_id", $"n_bigrams", $"lm_score")
      .as[(Long, Long, Double)].collect().toSet
    val model = graft.pipeline.TextAnalysis.bigramModel(train, "text")
    val expected = graft.pipeline.TextAnalysis.scoreWithBigramModel(
      c1.unionByName(c2), model, "text", "doc_id")
      .select($"doc_id", $"n_bigrams", $"lm_score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
    // parity is not vacuous: known docs score like the corpus, the
    // unseen-bigram doc scores exactly 0
    assert(got.exists(r => r._1 == 99999L && r._3 === 0.0))
    assert(got.exists(_._3 > 0.0))
  }

  test("streamed CMS cells merge to the one-shot heavy-hitter result") {
    import java.nio.file.Files
    val in = tempDir("graft-cms-in")
    val root = tempDir("graft-cms-root").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val c1 = docs.filter($"doc_id" < 250)
    val c2 = docs.filter($"doc_id" >= 250)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-cms-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    val q = graft.streaming.CmsStream.run(spark, in.toString, root,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(c2, "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // at least two streamed batch partitions exist
    assert(new java.io.File(s"$root/cells").listFiles()
      .count(_.getName.startsWith("batch=")) >= 2)
    val streamed = graft.pipeline.TextAnalysis.heavyHittersFromCells(
      docs, "text", graft.streaming.CmsStream.cells(spark, root),
      n = 2, phiDenom = 800L, depth = 3, width = 1024)
      .as[(String, Long)].collect().toSeq
    val oneShot = graft.pipeline.TextAnalysis.heavyHitters(
      docs, "text", n = 2, phiDenom = 800L)
      .as[(String, Long)].collect().toSeq
    assert(streamed === oneShot && streamed.nonEmpty)
    // crash-replay one batch: cells derive only from the batch's own
    // docs — the overwrite rewrites identical rows, result unchanged
    graft.streaming.CmsStream.appendBatch(c2, 1L, root, "text",
      n = 2, depth = 3, width = 1024)
    val replayed = graft.pipeline.TextAnalysis.heavyHittersFromCells(
      docs, "text", graft.streaming.CmsStream.cells(spark, root),
      n = 2, phiDenom = 800L, depth = 3, width = 1024)
      .as[(String, Long)].collect().toSeq
    assert(replayed === oneShot)
  }

  test("incremental LSH batch replay is idempotent, band state survives") {
    val out = tempDir("graft-lsh-replay").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val b0 = docs.filter($"doc_id" < 100)
    val b1 = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
    def pairSnap() = spark.read.parquet(s"$out/pairs")
      .select($"key_a", $"key_b").as[(Long, Long)].collect().toSet
    def bandSnap() = spark.read.parquet(s"$out/bands")
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet
    graft.streaming.LshStream.processBatch(b0, 0L,
      s"$out/pairs", s"$out/bands", "text", "doc_id", 8, 4)
    graft.streaming.LshStream.processBatch(b1, 1L,
      s"$out/pairs", s"$out/bands", "text", "doc_id", 8, 4)
    val pairs = pairSnap()
    val bandState = bandSnap()
    // a crash after both of batch 1's writes but before the checkpoint
    // commit replays the SAME batch: the replay must not join against
    // its own band partition (else every batch-1 doc pairs with itself
    // shifted into a phantom cross-batch candidate set)
    graft.streaming.LshStream.processBatch(b1, 1L,
      s"$out/pairs", s"$out/bands", "text", "doc_id", 8, 4)
    assert(pairSnap() === pairs)
    assert(bandSnap() === bandState)
  }

  test("incremental LSH equals the batch form, candidates across batches") {
    import java.nio.file.Files
    val in = tempDir("graft-lsh-in")
    val out = tempDir("graft-lsh-out").toString
    val ckpt = tempDir("graft-lsh-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    // near-dup "recrawls" of chunk-1 documents arrive in chunks 2 and 3
    // (identical text ⇒ identical signatures ⇒ all bands collide), so
    // the pairs MUST come from the cross-batch band store
    def recrawl(ids: Seq[Long], offset: Long) =
      docs.filter($"doc_id".isin(ids: _*))
        .withColumn("doc_id", $"doc_id" + lit(offset))
    val c1 = docs.filter($"doc_id" < 200)
    val c2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
      .unionByName(recrawl(Seq(0L, 11L, 22L), 1000))
    val c3 = docs.filter($"doc_id" >= 400)
      .unionByName(recrawl(Seq(33L, 44L), 2000))
    val full = docs.unionByName(recrawl(Seq(0L, 11L, 22L), 1000))
      .unionByName(recrawl(Seq(33L, 44L), 2000))
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-lsh-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    val q = graft.streaming.LshStream.run(spark, in.toString, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(c2, "c2.parquet")
      q.processAllAvailable()
      addChunk(c3, "c3.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.streaming.LshStream.pairs(spark, out)
      .as[(Long, Long)].collect().toSet
    val expected = graft.pipeline.Dedup.minHashCandidates(full, "text",
      "doc_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    // parity is not vacuous: every recrawl pairs with its original, and
    // those pairs span micro-batches (original in chunk 1, copy later)
    for (id <- Seq(0L, 11L, 22L)) assert(got.contains((id, id + 1000)))
    for (id <- Seq(33L, 44L)) assert(got.contains((id, id + 2000)))
    assert(expected.nonEmpty)
  }

  test("incremental LSH last-write-wins: a re-arrived key joins as its new version only") {
    import java.nio.file.Files
    val in = tempDir("graft-lsh-lww-in")
    val out = tempDir("graft-lsh-lww-out").toString
    val ckpt = tempDir("graft-lsh-lww-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def asId(srcId: Long, newId: Long) =
      docs.filter($"doc_id" === srcId).withColumn("doc_id", lit(newId))
    // chunk 1: docs 0-199, including doc 7 with its ORIGINAL text.
    // chunk 2: docs 200-399, plus doc 7 RE-ARRIVING with doc 11's text
    // (changed content), plus doc 6000 carrying doc 7's ORIGINAL text —
    // the probe for the stale signature: it must NOT pair with key 7,
    // because 7's old bands are superseded in the very batch it
    // re-arrives.
    // chunk 3: the remaining docs, plus doc 5000 also carrying doc 11's
    // text — the probe that later batches join the NEW version.
    val c1 = docs.filter($"doc_id" < 200)
    val c2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
      .unionByName(asId(11L, 7L)).unionByName(asId(7L, 6000L))
    val c3 = docs.filter($"doc_id" >= 400).unionByName(asId(11L, 5000L))
    // the corpus a last-write-wins pipeline has at rest: latest version
    // per key (doc 7 = doc 11's text)
    val latest = docs.filter($"doc_id" =!= 7L).unionByName(asId(11L, 7L))
      .unionByName(asId(7L, 6000L)).unionByName(asId(11L, 5000L))
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-lsh-lww-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    val q = graft.streaming.LshStream.run(spark, in.toString, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(c2, "c2.parquet")
      q.processAllAvailable()
      addChunk(c3, "c3.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.streaming.LshStream.pairs(spark, out)
      .as[(Long, Long)].collect().toSet
    val expected = graft.pipeline.Dedup.minHashCandidates(latest, "text",
      "doc_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    // the parity is not vacuous:
    // - the re-arrival batch itself paired key 7's NEW version with
    //   doc 11 (already in the store from chunk 1)
    assert(got.contains((7L, 11L)))
    // - a batch AFTER the re-arrival paired key 7 as its new version
    assert(got.contains((7L, 5000L)) && got.contains((11L, 5000L)))
    // - the stale signature never joined: doc 6000 carries key 7's
    //   ORIGINAL text, arrives alongside the re-arrival, and must pair
    //   with nothing (without immediate supersede it pairs with 7)
    assert(!got.contains((7L, 6000L)))
    assert(!got.exists(p => p._1 == 6000L || p._2 == 6000L))
  }

  test("LSH compaction: store folds losslessly, supersedes keep matching, watermark holds") {
    import java.nio.file.Files
    import graft.streaming.LshStream
    val in = tempDir("graft-lsh-cpt-in")
    val out = tempDir("graft-lsh-cpt-out").toString
    val ckpt = tempDir("graft-lsh-cpt-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def asId(srcId: Long, newId: Long) =
      docs.filter($"doc_id" === srcId).withColumn("doc_id", lit(newId))
    // chunk 1 holds doc 7 (original text); chunk 2 re-crawls key 7
    // with doc 11's text → the sidecar is NON-empty when compaction
    // runs, exercising the superseded-row drop in the fold
    val c1 = docs.filter($"doc_id" < 200)
    val c2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
      .unionByName(asId(11L, 7L))
    // chunk 3 (post-compact): a new doc with doc 11's text must pair
    // with FOLDED keys 7 and 11 (cross-batch candidates against the
    // base), and a new doc with key 7's ORIGINAL text must pair with
    // nothing (the superseded bands were dropped by the fold)
    val c3 = docs.filter($"doc_id" >= 400)
      .unionByName(asId(11L, 5000L)).unionByName(asId(7L, 6000L))
    val latest = docs.filter($"doc_id" =!= 7L).unionByName(asId(11L, 7L))
      .unionByName(asId(11L, 5000L)).unionByName(asId(7L, 6000L))
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-lsh-cpt-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    addChunk(c2, "c2.parquet")
    val q1 = LshStream.run(spark, in.toString, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try q1.processAllAvailable() finally q1.stop()
    LshStream.compact(spark, out)
    assert(new java.io.File(s"$out/base/bands").exists())
    assert(!new java.io.File(s"$out/bands").exists())
    assert(!new java.io.File(s"$out/bands_superseded").exists())
    // a reused id at or below the fold watermark fails pointedly
    val e = intercept[IllegalArgumentException](
      LshStream.processBatch(docs.limit(1), 1L, s"$out/pairs",
        s"$out/bands", "text", "doc_id", 8, 4))
    assert(e.getMessage.contains("watermark"))
    // the stream resumes from its checkpoint (next id > watermark)
    addChunk(c3, "c3.parquet")
    val q2 = LshStream.run(spark, in.toString, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try q2.processAllAvailable() finally q2.stop()
    val got = LshStream.pairs(spark, out)
      .as[(Long, Long)].collect().toSet
    val expected = graft.pipeline.Dedup.minHashCandidates(latest,
      "text", "doc_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    // parity is not vacuous: 5000 paired against FOLDED keys…
    assert(got.contains((7L, 5000L)) && got.contains((11L, 5000L)))
    // …and 7's superseded bands stayed dead through the fold
    assert(!got.exists(p => p._1 == 6000L || p._2 == 6000L))
  }

  test("incremental LSH prior state scans the band store without shuffling it") {
    // The 100 TB contract of the sidecar supersede design: per batch
    // the accumulated band store is SCANNED and filtered by two
    // broadcast anti-joins — never re-shuffled or windowed (the
    // previous per-key max-batch window moved the whole store through
    // an exchange every micro-batch, a cost growing with corpus size).
    val out = tempDir("graft-lsh-plan").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.streaming.LshStream.processBatch(docs.filter($"doc_id" < 50),
      0L, s"$out/pairs", s"$out/bands", "text", "doc_id", 8, 4)
    graft.streaming.LshStream.processBatch(
      docs.filter($"doc_id" >= 50 && $"doc_id" < 80),
      1L, s"$out/pairs", s"$out/bands", "text", "doc_id", 8, 4)
    val myKeys = docs.filter($"doc_id" >= 80 && $"doc_id" < 90)
      .select($"doc_id").distinct()
    val prior = graft.streaming.LshStream.livePrior(spark,
      s"$out/bands", 2L, "doc_id", myKeys,
      docs.select($"doc_id", lit(0).as("band"), lit("").as("band_hash")))
    val p = prior.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Broadcast"), p)
    // no shuffle exchange and no window over the store
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
    // and the relation is the right one: batch-0 + batch-1 keys
    assert(prior.select($"doc_id").distinct().count() === 80L)
  }

  test("IVF delta compaction: single level, layout-identical, crash-recoverable") {
    import java.nio.file.Files
    import graft.pipeline.PartitionedAnn
    val root = tempDir("graft-compact").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val centroids = corpus.filter($"vec_id" < 60)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    PartitionedAnn.writeIvfPartitioned(
      corpus.filter($"vec_id" < 700), "embedding", "vec_id", centroids,
      s"$root/base")
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 700 && $"vec_id" < 1400), 0L, root,
      centroids, "embedding", "vec_id")
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1400), 1L, root, centroids,
      "embedding", "vec_id")
    def rows() = graft.streaming.IvfStream.layout(spark, root)
      .select($"c_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    val before = rows()
    graft.streaming.IvfStream.compact(spark, root)
    // single level: deltas and staging gone, base carries everything
    assert(!new java.io.File(s"$root/delta").exists())
    assert(!new java.io.File(s"$root/base_compact").exists())
    assert(rows() === before)
    // idempotent: compacting a compacted layout is a no-op rewrite
    graft.streaming.IvfStream.compact(spark, root)
    assert(rows() === before)
    // interrupted swap (staging complete, base deleted): next call
    // completes the move instead of recomputing
    val base = new java.io.File(s"$root/base")
    Files.move(base.toPath,
      new java.io.File(s"$root/base_compact").toPath)
    graft.streaming.IvfStream.compact(spark, root)
    assert(base.exists() && rows() === before)
    // interrupted swap with a SURVIVING delta (crash landed between
    // rm(base) and rm(delta)): the staged copy already contains the
    // delta contents, so recovery must drop delta/ — otherwise every
    // delta vector appears twice (duplicate top-k candidates; doubled
    // ADC partial sums in the PQ layout). Simulate: staging = the
    // folded layout (current base), base absent, delta holding
    // vectors the fold already absorbed.
    Files.move(base.toPath,
      new java.io.File(s"$root/base_compact").toPath)
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1400), 2L, root, centroids,
      "embedding", "vec_id")
    graft.streaming.IvfStream.compact(spark, root)
    assert(!new java.io.File(s"$root/delta").exists())
    val dupes = graft.streaming.IvfStream.layout(spark, root)
      .groupBy($"c_id").count().filter($"count" > 1).count()
    assert(dupes === 0L, "recovery left duplicated delta vectors")
    assert(rows() === before)
  }

  test("staged swap: authoritative staging survives a partial base delete; unmanifested deltas survive recovery") {
    import java.nio.file.Files
    import graft.pipeline.PartitionedAnn
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).foreach(_.foreach(f =>
          copyTree(f, new java.io.File(dst, f.getName))))
      } else Files.copy(src.toPath, dst.toPath): Unit
    }
    val root = tempDir("graft-swap").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val centroids = corpus.filter($"vec_id" < 60)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    PartitionedAnn.writeIvfPartitioned(
      corpus.filter($"vec_id" < 1000), "embedding", "vec_id", centroids,
      s"$root/base")
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1000 && $"vec_id" < 1500), 1L, root,
      centroids, "embedding", "vec_id")
    def rows() = graft.streaming.IvfStream.layout(spark, root)
      .select($"c_id").as[Long].collect().toSet
    graft.streaming.IvfStream.compact(spark, root)
    val before = rows()
    val base = new java.io.File(s"$root/base")
    val staging = new java.io.File(s"$root/base_compact")
    // SCENARIO A — crash PARTWAY through rm(base): staging is
    // complete and marked, base still exists but is missing most of
    // its files. The old code saw base-present and REBUILT staging
    // from the half-deleted base, silently dropping the removed rows;
    // the marker must make the staged copy authoritative instead.
    Files.move(base.toPath, staging.toPath)
    Files.write(new java.io.File(staging, "_SWAP_READY").toPath,
      Array.emptyByteArray)
    val oneCent = staging.listFiles()
      .filter(_.getName.startsWith("cent_id=")).head
    copyTree(oneCent, new java.io.File(base, oneCent.getName))
    assert(base.exists()) // the partial survivor
    graft.streaming.IvfStream.compact(spark, root)
    assert(rows() === before, "partial base survived as authority")
    // SCENARIO B — crash after the marker, streaming resumes and
    // appends batch 2, THEN recovery runs: batch 2 is not in the
    // manifest (staging predates it) and must survive — the old
    // recovery rm'd the whole delta tree, losing a committed batch
    // structured streaming never replays.
    Files.move(base.toPath, staging.toPath)
    Files.write(new java.io.File(staging, "_SWAP_READY").toPath,
      Array.emptyByteArray) // empty manifest: nothing was folded
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1500 && $"vec_id" < 1800), 2L, root,
      centroids, "embedding", "vec_id")
    val withB2 = before ++ corpus
      .filter($"vec_id" >= 1500 && $"vec_id" < 1800)
      .select($"vec_id").as[Long].collect().toSet
    graft.streaming.IvfStream.compact(spark, root)
    assert(rows() === withB2, "post-crash delta batch was lost")
    assert(!new java.io.File(s"$root/delta").exists()) // folded by the
    // complete-then-continue op, not deleted by recovery
  }

  test("crash between base delete and delta delete: manifested deltas drop in all three page formats") {
    // THE specific window: staging complete + marker whose manifest
    // names the folded delta, base already deleted, the manifested
    // delta still on disk. The staged copy contains the delta's rows,
    // so recovery must remove exactly that delta — keeping it would
    // double every streamed vector (duplicate top-k candidates in the
    // float/int8 layouts, doubled ADC partial candidates in PQ).
    import java.nio.file.Files
    import graft.pipeline.{PartitionedAnn, Similarity}
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val centroids = corpus.filter($"vec_id" < 60)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
      .localCheckpoint()
    val queries = e.filter($"vec_id" < 5)
    val cw = Similarity.pqCodewords(
      corpus.filter($"vec_id" < 60), "embedding", "vec_id",
      numSub = 8, subDim = 8).localCheckpoint()
    val baseSlice = corpus.filter($"vec_id" < 1000)
    val deltaSlice = corpus.filter($"vec_id" >= 1000)
    def crashThenRecover(root: String,
        append: () => Unit,
        compactFmt: () => Unit,
        layoutOf: () => org.apache.spark.sql.DataFrame,
        probe: () => Set[(Long, Int, Long)],
        fullProbe: () => Set[(Long, Int, Long)]): Unit = {
      append()
      compactFmt() // the real fold
      // reconstruct the mid-swap crash: base deleted, staging marked
      // with the manifest, the manifested delta regenerated on disk
      // (replay-idempotent appendBatch writes identical files)
      Files.move(new java.io.File(s"$root/base").toPath,
        new java.io.File(s"$root/base_compact").toPath)
      Files.write(
        new java.io.File(s"$root/base_compact/_SWAP_READY").toPath,
        "delta/batch=7".getBytes("UTF-8"))
      append()
      compactFmt() // recovery preamble completes the swap first
      assert(!new java.io.File(s"$root/delta").exists(),
        s"$root: manifested delta survived recovery")
      val dupes = layoutOf().groupBy($"c_id").count()
        .filter($"count" > 1).count()
      assert(dupes === 0L, s"$root: duplicated vectors after recovery")
      val got = probe()
      assert(got === fullProbe() && got.nonEmpty,
        s"$root: probe diverged from full rebuild after recovery")
    }
    // float
    val rootF = tempDir("graft-crashf").toString
    val fullF = tempDir("graft-crashf-full").toString
    PartitionedAnn.writeIvfPartitioned(baseSlice, "embedding",
      "vec_id", centroids, s"$rootF/base")
    PartitionedAnn.writeIvfPartitioned(corpus, "embedding", "vec_id",
      centroids, fullF)
    crashThenRecover(rootF,
      () => graft.streaming.IvfStream.appendBatch(deltaSlice, 7L,
        rootF, centroids, "embedding", "vec_id"),
      () => graft.streaming.IvfStream.compact(spark, rootF),
      () => graft.streaming.IvfStream.layout(spark, rootF),
      () => PartitionedAnn.ivfTopKFrames(spark,
          graft.streaming.IvfStream.layout(spark, rootF), queries,
          "embedding", "vec_id", k = 5, centroids, nprobe = 2)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet,
      () => PartitionedAnn.ivfTopKPartitioned(spark, fullF, queries,
          "embedding", "vec_id", k = 5, centroids, nprobe = 2)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet)
    // int8
    val root8 = tempDir("graft-crash8").toString
    val full8 = tempDir("graft-crash8-full").toString
    PartitionedAnn.writeIvfPartitionedInt8(baseSlice, "embedding",
      "vec_id", centroids, s"$root8/base")
    PartitionedAnn.writeIvfPartitionedInt8(corpus, "embedding",
      "vec_id", centroids, full8)
    crashThenRecover(root8,
      () => graft.streaming.IvfStream.appendBatchInt8(deltaSlice, 7L,
        root8, centroids, "embedding", "vec_id"),
      () => graft.streaming.IvfStream.compact(spark, root8,
        graft.streaming.IvfStream.layoutInt8),
      () => graft.streaming.IvfStream.layoutInt8(spark, root8),
      () => PartitionedAnn.ivfTopKFramesInt8(spark,
          graft.streaming.IvfStream.layoutInt8(spark, root8), queries,
          "embedding", "vec_id", k = 5, centroids, nprobe = 2)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet,
      () => PartitionedAnn.ivfTopKPartitionedInt8(spark, full8,
          queries, "embedding", "vec_id", k = 5, centroids, nprobe = 2)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet)
    // PQ — a kept delta would feed EVERY duplicated code row into the
    // ADC candidate stream
    val rootP = tempDir("graft-crashp").toString
    val fullP = tempDir("graft-crashp-full").toString
    PartitionedAnn.writeIvfPqPartitioned(baseSlice, "embedding",
      "vec_id", centroids, cw, s"$rootP/base", numSub = 8, subDim = 8)
    PartitionedAnn.writeIvfPqPartitioned(corpus, "embedding",
      "vec_id", centroids, cw, fullP, numSub = 8, subDim = 8)
    crashThenRecover(rootP,
      () => graft.streaming.IvfStream.appendBatchPq(deltaSlice, 7L,
        rootP, centroids, cw, "embedding", "vec_id", numSub = 8,
        subDim = 8),
      () => graft.streaming.IvfStream.compact(spark, rootP,
        graft.streaming.IvfStream.layoutPq),
      () => graft.streaming.IvfStream.layoutPq(spark, rootP),
      () => PartitionedAnn.ivfPqTopKFrames(spark,
          graft.streaming.IvfStream.layoutPq(spark, rootP), queries,
          "embedding", "vec_id", k = 5, centroids, cw, nprobe = 2,
          subDim = 8)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet,
      () => PartitionedAnn.ivfPqTopKPartitioned(spark, fullP, queries,
          "embedding", "vec_id", k = 5, centroids, cw, nprobe = 2,
          subDim = 8)
        .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
        .collect().toSet)
  }

  test("reused batch ids below the committed max fail pointedly in every stream") {
    // Structured streaming replays only the LAST batch; an id below
    // the newest committed `batch=` partition means a fresh-checkpoint
    // restart, whose overwrite would silently corrupt committed state
    // (LshStream is the nastiest case: sidecar rows recorded against
    // the old generation would supersede the NEW rows written under
    // the reused id, anti-joining fresh documents away forever).
    import graft.streaming.{CmsStream, IvfStream, LshStream}
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val lsh = tempDir("graft-reuse-lsh").toString
    LshStream.processBatch(docs.filter($"doc_id" < 20), 1L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    LshStream.processBatch(
      docs.filter($"doc_id" >= 20 && $"doc_id" < 40), 2L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    val e1 = intercept[IllegalArgumentException](
      LshStream.processBatch(docs.filter($"doc_id" >= 40), 1L,
        s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4))
    assert(e1.getMessage.contains("below the newest committed batch"))
    // equal-to-max is the legitimate crash replay and stays allowed
    LshStream.processBatch(
      docs.filter($"doc_id" >= 20 && $"doc_id" < 40), 2L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    val cms = tempDir("graft-reuse-cms").toString
    CmsStream.appendBatch(docs.filter($"doc_id" < 20), 0L, cms,
      "text", 2, 3, 1024)
    CmsStream.appendBatch(docs.filter($"doc_id" >= 20), 1L, cms,
      "text", 2, 3, 1024)
    val e2 = intercept[IllegalArgumentException](
      CmsStream.appendBatch(docs.limit(1), 0L, cms, "text", 2, 3, 1024))
    assert(e2.getMessage.contains("below the newest committed batch"))
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val cents = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    val ivf = tempDir("graft-reuse-ivf").toString
    IvfStream.appendBatch(emb.filter($"vec_id" < 100), 0L, ivf, cents,
      "embedding", "vec_id")
    IvfStream.appendBatch(emb.filter($"vec_id" >= 100), 1L, ivf, cents,
      "embedding", "vec_id")
    val e3 = intercept[IllegalArgumentException](
      IvfStream.appendBatch(emb.limit(1), 0L, ivf, cents,
        "embedding", "vec_id"))
    assert(e3.getMessage.contains("below the newest committed batch"))
    // the guard lists via the Hadoop FileSystem API, so a file:-scheme
    // URI sees the same committed state a bare local path does
    val e4 = intercept[IllegalArgumentException](
      IvfStream.appendBatch(emb.limit(1), 0L, s"file:$ivf", cents,
        "embedding", "vec_id"))
    assert(e4.getMessage.contains("below the newest committed batch"))
    // the staged-swap sidecar tier is local-only and says so up front
    // instead of silently finding no pending swap on a remote scheme
    val e5 = intercept[IllegalArgumentException](
      IvfStream.compact(spark, "s3a://bucket/layout"))
    assert(e5.getMessage.contains("not on the local filesystem"))
  }

  test("codebook refresh re-partitions the live layout by the new assignment") {
    import graft.pipeline.{PartitionedAnn, Similarity}
    val root = tempDir("graft-refresh").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val oldCents = corpus.filter($"vec_id" < 60)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    PartitionedAnn.writeIvfPartitioned(
      corpus.filter($"vec_id" < 1000), "embedding", "vec_id", oldCents,
      s"$root/base")
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1000), 0L, root, oldCents,
      "embedding", "vec_id")
    val newCents = graft.streaming.IvfStream
      .refreshCodebook(spark, root, k = 8, iters = 3)
    // single level again, same vector population
    assert(!new java.io.File(s"$root/delta").exists())
    val layout = graft.streaming.IvfStream.layout(spark, root)
    assert(layout.select($"c_id").as[Long].collect().toSet ===
      corpus.select($"vec_id").as[Long].collect().toSet)
    // every row sits in the partition the NEW codebook assigns it to
    val expect = Similarity.ivfAssign(
        corpus, "embedding", "vec_id", newCents)
      .select($"c_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    layout.select($"c_id", $"cent_id".cast("long")).as[(Long, Long)]
      .collect().foreach { case (id, c) => assert(expect(id) === c, id) }
    // probes against the refreshed layout still find true neighbors
    val queries = e.filter($"vec_id" < 5)
    val got = PartitionedAnn.ivfTopKPartitioned(spark, s"$root/base",
        queries, "embedding", "vec_id", k = 5, newCents, nprobe = 2)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, corpus,
        "embedding", "vec_id", k = 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    assert((got & brute).size.toDouble / brute.size >= 0.3)
  }

  test("incremental IVF layout equals a full rebuild, replay-safe") {
    import java.nio.file.Files
    import graft.pipeline.{PartitionedAnn, Similarity}
    val in = tempDir("graft-ivf-in")
    val root = tempDir("graft-ivf-root").toString
    val ckpt = tempDir("graft-ivf-ckpt").toString
    val full = tempDir("graft-ivf-full").toString
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val centroids = corpus.filter($"vec_id" < 60)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    val queries = e.filter($"vec_id" < 10)
    // base over the first third; the rest arrives as two streamed files
    PartitionedAnn.writeIvfPartitioned(
      corpus.filter($"vec_id" < 700), "embedding", "vec_id", centroids,
      s"$root/base")
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-ivf-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(corpus.filter($"vec_id" >= 700 && $"vec_id" < 1400),
      "c1.parquet")
    val q = graft.streaming.IvfStream.run(spark, in.toString, root,
      ckpt, centroids,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(corpus.filter($"vec_id" >= 1400), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // 1. the incremental layout holds exactly the full rebuild's
    //    (vector, centroid) assignment — fixed codebook ⇒ deterministic
    val gotAssign = graft.streaming.IvfStream.layout(spark, root)
      .select($"c_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    val fullAssign = Similarity.ivfAssign(corpus, "embedding", "vec_id",
        centroids)
      .select($"c_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(gotAssign === fullAssign)
    assert(gotAssign.size === corpus.count())
    // 2. probes against base∪deltas equal probes against a full rebuild
    PartitionedAnn.writeIvfPartitioned(corpus, "embedding", "vec_id",
      centroids, full)
    val gotTop = PartitionedAnn.ivfTopKFrames(spark,
        graft.streaming.IvfStream.layout(spark, root), queries,
        "embedding", "vec_id", k = 5, centroids, nprobe = 2)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    val fullTop = PartitionedAnn.ivfTopKPartitioned(spark, full, queries,
        "embedding", "vec_id", k = 5, centroids, nprobe = 2)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(gotTop === fullTop)
    assert(gotTop.nonEmpty)
    // 3. a crash-replay of a delta batch regenerates, never duplicates
    graft.streaming.IvfStream.appendBatch(
      corpus.filter($"vec_id" >= 1400), 1L, root, centroids,
      "embedding", "vec_id")
    assert(graft.streaming.IvfStream.layout(spark, root)
      .select($"c_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toSet === fullAssign)
    // 4. the int8 twin: streamed tinyint pages are BIT-identical to a
    //    full int8 rebuild (per-vector max-abs quantization is
    //    corpus-independent; assignment shares the float codebook)
    val root8 = tempDir("graft-ivf8-root").toString
    val full8 = tempDir("graft-ivf8-full").toString
    PartitionedAnn.writeIvfPartitionedInt8(
      corpus.filter($"vec_id" < 700), "embedding", "vec_id", centroids,
      s"$root8/base")
    graft.streaming.IvfStream.appendBatchInt8(
      corpus.filter($"vec_id" >= 700 && $"vec_id" < 1400), 0L, root8,
      centroids, "embedding", "vec_id")
    graft.streaming.IvfStream.appendBatchInt8(
      corpus.filter($"vec_id" >= 1400), 1L, root8, centroids,
      "embedding", "vec_id")
    PartitionedAnn.writeIvfPartitionedInt8(corpus, "embedding",
      "vec_id", centroids, full8)
    def pages(df: org.apache.spark.sql.DataFrame) = df
      .select($"c_id", $"cent_id".cast("long"), $"qn",
        $"q".cast("string"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(pages(graft.streaming.IvfStream.layoutInt8(spark, root8)) ===
      pages(spark.read.parquet(full8)))
    val got8 = PartitionedAnn.ivfTopKFramesInt8(spark,
        graft.streaming.IvfStream.layoutInt8(spark, root8), queries,
        "embedding", "vec_id", k = 5, centroids, nprobe = 2)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    val full8Top = PartitionedAnn.ivfTopKPartitionedInt8(spark, full8,
        queries, "embedding", "vec_id", k = 5, centroids, nprobe = 2)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(got8 === full8Top)
    assert(got8.nonEmpty)
    // 5. the PQ twin: streamed code arrays are BIT-identical to a full
    //    PQ rebuild (assignment and per-subspace argmin are both
    //    per-vector deterministic under fixed centroids/codewords)
    val rootPq = tempDir("graft-ivfpq-root").toString
    val fullPq = tempDir("graft-ivfpq-full").toString
    val cw = Similarity.pqCodewords(
      corpus.filter($"vec_id" < 60), "embedding", "vec_id",
      numSub = 8, subDim = 8).localCheckpoint()
    PartitionedAnn.writeIvfPqPartitioned(
      corpus.filter($"vec_id" < 700), "embedding", "vec_id", centroids,
      cw, s"$rootPq/base", numSub = 8, subDim = 8)
    graft.streaming.IvfStream.appendBatchPq(
      corpus.filter($"vec_id" >= 700 && $"vec_id" < 1400), 0L, rootPq,
      centroids, cw, "embedding", "vec_id", numSub = 8, subDim = 8)
    graft.streaming.IvfStream.appendBatchPq(
      corpus.filter($"vec_id" >= 1400), 1L, rootPq, centroids, cw,
      "embedding", "vec_id", numSub = 8, subDim = 8)
    PartitionedAnn.writeIvfPqPartitioned(corpus, "embedding", "vec_id",
      centroids, cw, fullPq, numSub = 8, subDim = 8)
    def codes(df: org.apache.spark.sql.DataFrame) = df
      .select($"c_id", $"cent_id".cast("long"), $"codes".cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(codes(graft.streaming.IvfStream.layoutPq(spark, rootPq)) ===
      codes(spark.read.parquet(fullPq)))
    val gotPq = PartitionedAnn.ivfPqTopKFrames(spark,
        graft.streaming.IvfStream.layoutPq(spark, rootPq), queries,
        "embedding", "vec_id", k = 5, centroids, cw, nprobe = 2,
        subDim = 8)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    val fullPqTop = PartitionedAnn.ivfPqTopKPartitioned(spark, fullPq,
        queries, "embedding", "vec_id", k = 5, centroids, cw,
        nprobe = 2, subDim = 8)
      .select($"q_id", $"rank", $"c_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(gotPq === fullPqTop)
    assert(gotPq.nonEmpty)
  }

  test("curation funnel batch replay is idempotent, state survives") {
    val out = tempDir("graft-cur-replay").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val b0 = docs.filter($"doc_id" < 100)
    val b1 = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
    def snap() = spark.read.parquet(s"$out/verdicts")
      .select($"doc_id", $"stage").as[(Long, String)].collect().toSet
    def seenFps() = spark.read.parquet(s"$out/seen")
      .select($"fp").as[String].collect().toSet
    graft.streaming.CurationStream.processBatch(b0, 0L,
      s"$out/verdicts", s"$out/seen", 0.65, 0.01)
    graft.streaming.CurationStream.processBatch(b1, 1L,
      s"$out/verdicts", s"$out/seen", 0.65, 0.01)
    val verdicts = snap()
    val fps = seenFps()
    assert(verdicts.exists(_._2 == "kept"))
    // a crash after both of batch 1's writes but before the
    // checkpoint commit replays the SAME batch: the replay must see
    // neither its own prior verdicts nor its own prior state (else
    // every keeper demotes to drop_dup and the state partition is
    // overwritten empty)
    graft.streaming.CurationStream.processBatch(b1, 1L,
      s"$out/verdicts", s"$out/seen", 0.65, 0.01)
    assert(snap() === verdicts)
    assert(seenFps() === fps)
  }

  test("incremental curation funnel equals the batch funnel, dedup across batches") {
    import java.nio.file.Files
    val in = tempDir("graft-cur-in")
    val out = tempDir("graft-cur-out").toString
    val ckpt = tempDir("graft-cur-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    // three chunks ascending in doc_id, with "recrawl" duplicates of
    // CHUNK-1 documents arriving in chunks 2 and 3 — the cross-batch
    // state path must drop them, not the within-batch window
    val c1 = docs.filter($"doc_id" < 200)
    def recrawl(ids: Seq[Long], offset: Long) =
      docs.filter($"doc_id".isin(ids: _*))
        .withColumn("doc_id", $"doc_id" + lit(offset))
        .withColumn("source", lit("recrawl"))
    val c2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
      .unionByName(recrawl(Seq(0L, 11L, 22L), 1000))
    val c3 = docs.filter($"doc_id" >= 400)
      .unionByName(recrawl(Seq(33L, 44L), 2000))
    val full = docs.unionByName(recrawl(Seq(0L, 11L, 22L), 1000))
      .unionByName(recrawl(Seq(33L, 44L), 2000))
    // one parquet file per chunk, moved into the watched dir in order
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-cur-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(c1, "c1.parquet")
    val q = graft.streaming.CurationStream.run(spark, in.toString, out,
      ckpt, trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(c2, "c2.parquet")
      q.processAllAvailable()
      addChunk(c3, "c3.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$out/verdicts")
      .select($"doc_id", $"lang", $"source", $"ws_tokens", $"stage")
      .as[(Long, String, String, Long, String)].collect().toSet
    val expected = graft.streaming.CurationStream.batchVerdicts(full)
      .select($"doc_id", $"lang", $"source", $"ws_tokens", $"stage")
      .as[(Long, String, String, Long, String)].collect().toSet
    assert(got === expected)
    // the parity is not vacuous: every funnel stage fired, and each
    // recrawl of a passing original was dropped by CROSS-BATCH state
    // (its keeper arrived in an earlier micro-batch)
    val byStage = got.toSeq.groupBy(_._5).view.mapValues(_.size).toMap
    assert(byStage.keySet.contains("kept"))
    assert(byStage.getOrElse("drop_quality", 0)
      + byStage.getOrElse("drop_repetition", 0) > 0)
    val keptIds = got.filter(_._5 == "kept").map(_._1)
    val crossBatchDups = Seq(0L, 11L, 22L, 33L, 44L).filter(keptIds)
    assert(crossBatchDups.nonEmpty, "no recrawled original survived to test dedup")
    for (id <- crossBatchDups; dupId <- Seq(id + 1000, id + 2000)
         if got.exists(_._1 == dupId))
      assert(got.find(_._1 == dupId).get._5 === "drop_dup",
        s"recrawl $dupId of kept original $id must drop as a duplicate")
  }

  test("incremental BM25 index equals a full rebuild; compaction lossless, crash-recoverable") {
    import java.nio.file.Files
    import graft.pipeline.Retrieval
    import graft.streaming.Bm25Stream
    val in = tempDir("graft-bm25-in")
    val root = tempDir("graft-bm25-root").toString
    val ckpt = tempDir("graft-bm25-ckpt").toString
    val full = tempDir("graft-bm25-full").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val qs = spark.createDataFrame(Seq(
      (0L, "spark join window"), (1L, "fast table scan")))
      .toDF("q_id", "q_text")
    // base over a third; the rest arrives as two streamed files
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 3 === 0),
      "text", "doc_id", s"$root/base", buckets = 16)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-bm25-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(docs.filter($"doc_id" % 3 === 1), "c1.parquet")
    val q = Bm25Stream.run(spark, in.toString, root, ckpt,
      buckets = 16,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(docs.filter($"doc_id" % 3 === 2), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // 1. probes over base∪deltas equal probes over a full rebuild
    Retrieval.writeBm25Index(docs, "text", "doc_id", full, buckets = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"rank", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    val fullTop = rows(Retrieval.bm25TopKAtRest(spark, full, qs,
      "q_id", "q_text", k = 10, buckets = 16))
    val gotTop = rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16))
    assert(gotTop === fullTop)
    assert(gotTop.nonEmpty)
    // 2. replaying a delta batch regenerates, never duplicates
    Bm25Stream.appendBatch(docs.filter($"doc_id" % 3 === 2), 1L, root,
      "text", "doc_id", buckets = 16)
    assert(rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16)) === fullTop)
    // 3. compaction folds to single level, probe unchanged; idempotent
    Bm25Stream.compact(spark, root)
    assert(!new java.io.File(s"$root/delta").exists())
    assert(!new java.io.File(s"$root/delta_stats").exists())
    assert(rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16)) === fullTop)
    Bm25Stream.compact(spark, root)
    assert(rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16)) === fullTop)
    // 4. interrupted swap with a SURVIVING delta: the staged copy
    //    already contains those rows — recovery must drop the delta
    //    trees or tf/df evidence doubles
    val base = new java.io.File(s"$root/base")
    Files.move(base.toPath,
      new java.io.File(s"$root/base_compact").toPath)
    Bm25Stream.appendBatch(docs.filter($"doc_id" % 3 === 2), 2L, root,
      "text", "doc_id", buckets = 16)
    Bm25Stream.compact(spark, root)
    assert(base.exists())
    assert(!new java.io.File(s"$root/delta").exists())
    assert(!new java.io.File(s"$root/delta_stats").exists())
    assert(rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16)) === fullTop)
  }

  test("incremental BM25: re-crawled docs supersede exactly, twice-updated once each") {
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.pipeline.Retrieval
    import graft.streaming.Bm25Stream
    val root = tempDir("graft-bm25-upd").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val qs = spark.createDataFrame(Seq(
      (0L, "spark join window"), (1L, "alpha beta gamma")))
      .toDF("q_id", "q_text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"rank", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    def probe() = rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16))
    def rebuildOver(latest: org.apache.spark.sql.DataFrame) = {
      val tmp = tempDir("graft-bm25-upd-full").toString
      Retrieval.writeBm25Index(latest, "text", "doc_id", tmp,
        buckets = 16)
      rows(Retrieval.bm25TopKAtRest(spark, tmp, qs, "q_id", "q_text",
        k = 10, buckets = 16))
    }
    Retrieval.writeBm25Index(docs, "text", "doc_id", s"$root/base",
      buckets = 16)
    // batch 1 re-crawls every 7th doc with new terms
    val upd1 = docs.filter($"doc_id" % 7 === 0)
      .withColumn("text", concat($"text", lit(" alpha beta")))
    Bm25Stream.appendBatch(upd1, 1L, root, "text", "doc_id",
      buckets = 16)
    val latest1 = docs.filter($"doc_id" % 7 =!= 0).unionByName(upd1)
    assert(probe() === rebuildOver(latest1))
    // batch 2 re-crawls a SUBSET of the same docs AGAIN (every 14th):
    // their batch-1 version must supersede too, and their base
    // version must be recorded stale exactly once (sidecar dedup) —
    // a double-subtraction would corrupt n_docs/avgdl for everyone
    val upd2 = docs.filter($"doc_id" % 14 === 0)
      .withColumn("text", concat($"text", lit(" alpha beta gamma")))
    Bm25Stream.appendBatch(upd2, 2L, root, "text", "doc_id",
      buckets = 16)
    val latest2 = docs.filter($"doc_id" % 7 =!= 0)
      .unionByName(upd1.filter($"doc_id" % 14 =!= 0))
      .unionByName(upd2)
    val expect2 = rebuildOver(latest2)
    assert(probe() === expect2)
    // replaying update batch 2 changes nothing (idempotent sidecar +
    // overwrite-per-batch postings)
    Bm25Stream.appendBatch(upd2, 2L, root, "text", "doc_id",
      buckets = 16)
    assert(probe() === expect2)
    // compaction folds to a live single level and resets bookkeeping
    Bm25Stream.compact(spark, root)
    assert(!new java.io.File(s"$root/superseded").exists())
    assert(!new java.io.File(s"$root/delta_docs").exists())
    assert(probe() === expect2)
    // post-compaction re-crawls still supersede (registry rewritten)
    val upd3 = docs.filter($"doc_id" % 21 === 0)
      .withColumn("text", concat($"text", lit(" gamma gamma")))
    Bm25Stream.appendBatch(upd3, 3L, root, "text", "doc_id",
      buckets = 16)
    val latest3 = latest2.filter($"doc_id" % 21 =!= 0).unionByName(upd3)
    assert(probe() === rebuildOver(latest3))
  }

  test("BM25 supersede survives a crashed fold: sidecar gens keep matching folded rows") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.pipeline.Retrieval
    import graft.streaming.Bm25Stream
    val root = tempDir("graft-bm25-dangle").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val qs = spark.createDataFrame(Seq(
      (0L, "spark join window"), (1L, "alpha beta crash")))
      .toDF("q_id", "q_text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"rank", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    // base = even docs; delta batch 1 = odd docs
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 2 === 0),
      "text", "doc_id", s"$root/base", buckets = 16)
    Bm25Stream.appendBatch(docs.filter($"doc_id" % 2 === 1), 1L, root,
      "text", "doc_id", buckets = 16)
    // snapshot batch 1's trees (filesystem copy — appendBatch can't
    // regenerate them post-fold: its recovery preamble would complete
    // the swap and its watermark check rejects the reused id)
    def cp(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath): Unit
    val aside = tempDir("graft-bm25-aside").toString
    val trees = Seq("delta/batch=1", "delta_stats/batch=1",
      "delta_docs/batch=1", "superseded/batch=1")
    trees.foreach { t =>
      val src = new java.io.File(s"$root/$t")
      if (src.exists()) cp(src, new java.io.File(s"$aside/$t"))
    }
    // a REAL fold (gen-preserving), then reconstruct the crash state:
    // staging complete + marker manifesting batch 1, base absent,
    // batch 1's trees restored from the snapshot (the crash happened
    // between the base delete and the delta deletes)
    Bm25Stream.compact(spark, root)
    Files.move(new java.io.File(s"$root/base").toPath,
      new java.io.File(s"$root/base_compact").toPath)
    Files.write(
      new java.io.File(s"$root/base_compact/_SWAP_READY").toPath,
      trees.mkString("\n").getBytes("UTF-8"))
    trees.foreach { t =>
      val src = new java.io.File(s"$aside/$t")
      if (src.exists()) cp(src, new java.io.File(s"$root/$t"))
    }
    // the stream resumes MID-SWAP and batch 2 re-crawls doc 1 (odd —
    // its v1 sits in a manifested delta as gen=1) AND doc 0 (even —
    // base-resident, gen preserved by the fold): appendBatch must
    // first complete the pending swap, or the base registry reads as
    // EMPTY (missingPath fallback) and doc 0's supersede row is never
    // recorded — both versions of doc 0 would stay live forever
    val upd = docs.filter($"doc_id" === 1 || $"doc_id" === 0)
      .withColumn("text", concat($"text", lit(" alpha beta crash")))
    Bm25Stream.appendBatch(upd, 2L, root, "text", "doc_id",
      buckets = 16)
    Bm25Stream.compact(spark, root)
    // rebuild over the latest versions is the truth
    val full = tempDir("graft-bm25-dangle-f").toString
    Retrieval.writeBm25Index(
      docs.filter($"doc_id" =!= 1 && $"doc_id" =!= 0).unionByName(upd),
      "text", "doc_id", full, buckets = 16)
    val expect = rows(Retrieval.bm25TopKAtRest(spark, full, qs,
      "q_id", "q_text", k = 10, buckets = 16))
    val got = rows(Bm25Stream.bm25TopKIncremental(spark, root, qs,
      "q_id", "q_text", k = 10, buckets = 16))
    assert(got === expect,
      "stale version resurrected after crash-recovery fold")
  }

  test("BM25 fold watermark rejects reused batch ids after compaction") {
    import graft.pipeline.Retrieval
    import graft.streaming.Bm25Stream
    val root = tempDir("graft-bm25-wm").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 2 === 0),
      "text", "doc_id", s"$root/base", buckets = 16)
    Bm25Stream.appendBatch(docs.filter($"doc_id" % 2 === 1), 3L, root,
      "text", "doc_id", buckets = 16)
    Bm25Stream.compact(spark, root)
    // fresh-checkpoint restart: ids restart at 0..N — a reused id
    // would silently skip its own supersede rows (folded gen=3 rows
    // excluded as "own batch"); it must fail pointedly instead
    val e = intercept[IllegalArgumentException](
      Bm25Stream.appendBatch(docs.limit(1), 3L, root, "text",
        "doc_id", buckets = 16))
    assert(e.getMessage.contains("watermark"))
    // ids above the watermark keep working, and a second fold carries
    // the watermark forward (max of prior watermark and new deltas)
    Bm25Stream.appendBatch(docs.filter($"doc_id" === 1)
        .withColumn("text", org.apache.spark.sql.functions.lit("wm probe")),
      4L, root, "text", "doc_id", buckets = 16)
    Bm25Stream.compact(spark, root)
    val e2 = intercept[IllegalArgumentException](
      Bm25Stream.appendBatch(docs.limit(1), 4L, root, "text",
        "doc_id", buckets = 16))
    assert(e2.getMessage.contains("watermark"))
  }

  test("incremental gram index equals a full rebuild; compaction lossless; streaming-driven") {
    import java.nio.file.Files
    import graft.pipeline.Dedup
    import graft.streaming.GramStream
    val in = tempDir("graft-gram-in")
    val root = tempDir("graft-gram-root").toString
    val ckpt = tempDir("graft-gram-ckpt").toString
    val full = tempDir("graft-gram-full").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val test = docs.filter($"source" === "src0")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_shared")
      .as[(Long, Long)].collect().toSet
    Dedup.writeGramIndex(docs.filter($"doc_id" % 3 === 0),
      "text", "doc_id", s"$root/base", n = 5, buckets = 16)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-gram-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(docs.filter($"doc_id" % 3 === 1), "c1.parquet")
    val q = GramStream.run(spark, in.toString, root, ckpt, n = 5,
      buckets = 16,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(docs.filter($"doc_id" % 3 === 2), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    Dedup.writeGramIndex(docs, "text", "doc_id", full, n = 5,
      buckets = 16)
    val fullHits = rows(Dedup.contaminationHitsAtRest(spark, full,
      test, "text", "doc_id", n = 5, buckets = 16))
    def probe() = rows(GramStream.contaminationHitsIncremental(spark,
      root, test, "text", "doc_id", n = 5, buckets = 16))
    assert(probe() === fullHits)
    assert(fullHits.nonEmpty)
    // replaying a delta batch regenerates, never duplicates evidence
    GramStream.appendBatch(docs.filter($"doc_id" % 3 === 2), 1L, root,
      "text", "doc_id", n = 5, buckets = 16)
    assert(probe() === fullHits)
    // compaction: single level, probe unchanged, idempotent
    GramStream.compact(spark, root)
    assert(!new java.io.File(s"$root/delta").exists())
    assert(probe() === fullHits)
    GramStream.compact(spark, root)
    assert(probe() === fullHits)
  }

  test("mid-swap appends: prior-state readers recover first; additive appenders are manifest-protected both ways") {
    // Family-wide closure of the round-11 ADVICE-1 bug class. Two
    // disciplines, both pinned here:
    //  - PRIOR-STATE READERS (LshStream here; Bm25Stream and
    //    ChunkStore have their own cases) run recoverPendingSwap
    //    FIRST — mid-swap their base readers' missingPath fallback
    //    would silently see an empty base and skip supersedes.
    //  - ADDITIVE appenders (GramStream here; IvfStream scenario B in
    //    the staged-swap test, SpanStream in its own case) do NOT
    //    recover: the manifest protects both directions — a NEW id is
    //    absent from the manifest and survives recovery, a replayed
    //    FOLDED id regenerates trees recovery deletes while the
    //    staged base already holds the rows. Recovering first would
    //    double the folded-id replay.
    //  - NO-COMPACTION-TIER writers (CmsStream/DriftStream/DqStream/
    //    NbStream/LmStream/CurationStream and the tokenizer model
    //    stores) never leave a swap pending themselves, but a marker
    //    under their root means a FOREIGN maintainer owns the layout
    //    mid-swap — they FAIL FAST (sweep at the end of this test)
    //    instead of writing into the recovery window.
    import java.nio.file.Files
    import graft.pipeline.Dedup
    import graft.streaming.{GramStream, LshStream}
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def asId(srcId: Long, newId: Long) =
      docs.filter($"doc_id" === srcId).withColumn("doc_id", lit(newId))
    def pendSwap(root: String, manifest: String): Unit = {
      Files.move(new java.io.File(s"$root/base").toPath,
        new java.io.File(s"$root/base_compact").toPath)
      Files.write(
        new java.io.File(s"$root/base_compact/_SWAP_READY").toPath,
        manifest.getBytes("UTF-8"))
    }
    // --- LshStream.processBatch: recover-first ---
    val lsh = tempDir("graft-midswap-lsh").toString
    LshStream.processBatch(docs.filter($"doc_id" < 200), 1L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    LshStream.compact(spark, lsh)
    pendSwap(lsh, "") // crash after fold: nothing left to clear
    // mid-swap batch re-crawls base-resident key 7 with doc 11's
    // text: without recovery-first the empty-base fallback would skip
    // the supersede row and 7's STALE bands would keep matching
    LshStream.processBatch(asId(11L, 7L), 2L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    assert(new java.io.File(s"$lsh/base/bands").exists() &&
      !new java.io.File(s"$lsh/base_compact").exists(),
      "processBatch did not complete the pending swap first")
    LshStream.processBatch(asId(7L, 7000L), 3L,
      s"$lsh/pairs", s"$lsh/bands", "text", "doc_id", 8, 4)
    val got = LshStream.pairs(spark, lsh).as[(Long, Long)].collect().toSet
    assert(!got.exists(p => p._1 == 7000L || p._2 == 7000L),
      "stale bands of the mid-swap re-crawl kept matching")
    // --- GramStream.appendBatch: additive, manifest-protected ---
    val g = tempDir("graft-midswap-gram").toString
    Dedup.writeGramIndex(docs.filter($"doc_id" % 3 === 0), "text",
      "doc_id", s"$g/base", n = 5, buckets = 16)
    GramStream.appendBatch(docs.filter($"doc_id" % 3 === 1), 1L, g,
      "text", "doc_id", n = 5, buckets = 16)
    GramStream.compact(spark, g)
    val foldedCount = GramStream.layout(spark, g).count()
    // (b) a replayed FOLDED id written mid-swap is dropped by
    // recovery — the staged base already holds its rows; a
    // recover-first appender would land it AFTER the swap and double
    // every row
    pendSwap(g, "delta/batch=1")
    GramStream.appendBatch(docs.filter($"doc_id" % 3 === 1), 1L, g,
      "text", "doc_id", n = 5, buckets = 16)
    GramStream.compact(spark, g)
    assert(GramStream.layout(spark, g).count() === foldedCount,
      "replayed folded id double-counted through recovery")
    // (a) a NEW id written mid-swap is not in the manifest and
    // survives recovery
    pendSwap(g, "")
    GramStream.appendBatch(docs.filter($"doc_id" % 3 === 2), 2L, g,
      "text", "doc_id", n = 5, buckets = 16)
    GramStream.compact(spark, g)
    assert(GramStream.layout(spark, g).count() ===
      Dedup.gramIndexRows(docs, "text", "doc_id", 5, 16).count(),
      "post-crash new batch was lost to recovery")
    // --- no-compaction-tier writers: FAIL FAST under a foreign
    // pending swap (the family-wide enumeration — every appender /
    // store writer without its own recovery tier appears here) ---
    import graft.pipeline.{TextAnalysis, Validation}
    import graft.streaming.{CmsStream, CurationStream, DqStream,
      DriftStream, LineStream, LmStream, NbStream}
    val few = docs.limit(10)
    def pendForeign(): String = {
      val r = tempDir("graft-midswap-nocompact")
        .toString
      assert(new java.io.File(s"$r/base_compact").mkdirs())
      Files.write(
        new java.io.File(s"$r/base_compact/_SWAP_READY").toPath,
        "".getBytes("UTF-8"))
      r
    }
    val sweep: Seq[(String, String => Unit)] = Seq(
      "NbStream.appendBatch" ->
        (r => NbStream.appendBatch(few, 0L, r, "text", "lang")),
      "NbStream.appendDiffBatch" ->
        (r => NbStream.appendDiffBatch(few, few, 0L, r, "text", "lang")),
      "LineStream.appendBatch" ->
        (r => LineStream.appendBatch(few, 0L, r, "text")),
      "LineStream.appendDiffBatch" ->
        (r => LineStream.appendDiffBatch(few, few, 0L, r, "text")),
      "CmsStream.appendBatch" ->
        (r => CmsStream.appendBatch(few, 0L, r, "text", 2, 3, 64)),
      "DriftStream.appendBatch" ->
        (r => DriftStream.appendBatch(few, 0L, r, "n_chars")),
      "DqStream.appendBatch" ->
        (r => DqStream.appendBatch(few, 0L, r,
          Seq(Validation.Conformance("nonneg", $"doc_id" >= 0, 1.0)),
          "v1")),
      "LmStream.processBatch" ->
        (r => LmStream.processBatch(few, 0L,
          TextAnalysis.bigramModel(few, "text"), r)),
      "CurationStream.processBatch" ->
        (r => CurationStream.processBatch(few, 0L, s"$r", s"$r",
          0.0, 1.0)),
      "TextAnalysis.writeUnigramModel" ->
        (r => TextAnalysis.writeUnigramModel(few, "text", 1, 4, 1L, r)),
      "TextAnalysis.writeBpeModel" ->
        (r => TextAnalysis.writeBpeModel(few, "text", 1, 1L, r)),
      "TextAnalysis.writeKnChainModel" ->
        (r => TextAnalysis.writeKnChainModel(
          TextAnalysis.ngramLmKnChainModel(
            TextAnalysis.ngramLmCounts(few, "text", maxN = 3), 3),
          r)))
    sweep.foreach { case (name, op) =>
      val r = pendForeign()
      val e = intercept[IllegalStateException](op(r))
      assert(e.getMessage.contains("staged swap is pending"),
        s"$name did not fail fast: ${e.getMessage}")
    }
  }

  test("incremental drift monitor equals the inline two-slice report; streaming-driven") {
    import java.nio.file.Files
    import graft.pipeline.TextAnalysis
    import graft.streaming.DriftStream
    val in = tempDir("graft-drift-in")
    val root = tempDir("graft-drift-root").toString
    val ckpt = tempDir("graft-drift-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"bucket", $"n_base", $"n_new", $"psi_term")
      .as[(Int, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    DriftStream.writeBaseline(docs.filter($"source" === "src0"),
      "n_chars", root, bucketWidth = 100L, nBuckets = 10)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-drift-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    val rest = docs.filter($"source" =!= "src0")
    addChunk(rest.filter($"doc_id" % 2 === 0), "c1.parquet")
    val q = DriftStream.run(spark, in.toString, root, ckpt,
      valueCol = "n_chars",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(rest.filter($"doc_id" % 2 === 1), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // bucket counts are sums → streamed report == the inline monitor
    val inline = rows(TextAnalysis.distributionDrift(
      docs, "n_chars", $"source" === "src0", 100L, 10))
    assert(rows(DriftStream.report(spark, root)) === inline)
    // replaying the newest batch regenerates, never double-counts
    DriftStream.appendBatch(rest.filter($"doc_id" % 2 === 1), 1L,
      root, "n_chars")
    assert(rows(DriftStream.report(spark, root)) === inline)
    // a rebaseline under DIFFERENT bucketing params re-stamps the
    // contract; appends then bucket under the new one — while a
    // baseline-less report on a params-only root fails loudly (no
    // silent empty-baseline drift)
    val root2 = tempDir("graft-drift-root2").toString
    DriftStream.writeBaseline(docs.limit(10), "n_chars", root2,
      bucketWidth = 50L, nBuckets = 20)
    assert(DriftStream.report(spark, root2).count() === 20)
    // a rebaseline under DIFFERENT parameters without clearing the
    // counts tree must fail pointedly at probe time — the streamed
    // counts were bucketed under the old contract and would sum into
    // a nonsense report with no error anywhere
    DriftStream.appendBatch(docs.limit(5), 1L, root2, "n_chars")
    DriftStream.writeBaseline(docs.limit(10), "n_chars", root2,
      bucketWidth = 100L, nBuckets = 10)
    val e2 = intercept[IllegalArgumentException](
      DriftStream.report(spark, root2).collect())
    assert(e2.getMessage.contains("rebaselining"))
  }

  test("incremental data-quality monitor equals the one-shot check; contract guards fire") {
    import java.nio.file.Files
    import graft.pipeline.Validation
    import graft.pipeline.Validation._
    import graft.streaming.DqStream
    val in = tempDir("graft-dq-in")
    val root = tempDir("graft-dq-root").toString
    val ckpt = tempDir("graft-dq-ckpt").toString
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val rules: Seq[Rule] = Seq(
      Completeness("complete_rf", "l_returnflag", 1.0),
      Conformance("range_qty",
        $"l_quantity" >= 1.0 && $"l_quantity" <= 50.0, 1.0),
      MeanBound("mean_qty_floor", "l_quantity", 10.0, ">="))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Double, Double, String, Boolean)].collect().toSeq
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-dq-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(li.filter($"l_orderkey" % 2 === 0), "c1.parquet")
    val q = DqStream.run(spark, in.toString, root, ckpt, rules, "v1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(li.filter($"l_orderkey" % 2 === 1), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // additive numerators → streamed report == one-shot over the union
    val oneShot = rows(Validation.check(li, rules))
    assert(rows(DqStream.report(spark, root, rules, "v1")) === oneShot)
    // replaying the newest batch regenerates, never double-counts
    DqStream.appendBatch(li.filter($"l_orderkey" % 2 === 1), 1L,
      root, rules, "v1")
    assert(rows(DqStream.report(spark, root, rules, "v1")) === oneShot)
    // a reused LOWER id can only be a fresh-checkpoint restart
    val e1 = intercept[IllegalArgumentException](
      DqStream.appendBatch(li.limit(5), 0L, root, rules, "v1"))
    assert(e1.getMessage.contains("fresh checkpoint"))
    // folding under a different ruleset id fails pointedly
    val e2 = intercept[IllegalArgumentException](
      DqStream.report(spark, root, rules, "v2").collect())
    assert(e2.getMessage.contains("ruleset"))
    // UniqueKey cannot fold from partials — rejected at the boundary
    val e3 = intercept[IllegalArgumentException](
      DqStream.appendBatch(li.limit(5), 2L, root,
        Seq(UniqueKey("pk", Seq("l_orderkey"), 1.0)), "v1"))
    assert(e3.getMessage.contains("UniqueKey"))
    // a report with nothing streamed is a loud error, not NaNs
    val e4 = intercept[IllegalStateException](
      DqStream.report(spark,
        tempDir("graft-dq-empty").toString,
        rules, "v1"))
    assert(e4.getMessage.contains("no partials"))
  }

  test("incremental NB model equals one-shot retraining; streaming-driven; guards fire") {
    import java.nio.file.Files
    import graft.pipeline.Classify
    import graft.streaming.NbStream
    val in = tempDir("graft-nb-in")
    val root = tempDir("graft-nb-root").toString
    val ckpt = tempDir("graft-nb-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    def grid(df: org.apache.spark.sql.DataFrame) = df
      .select($"label", $"token", $"loglik".cast("string"))
      .as[(String, String, String)].collect().toSet
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-nb-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(docs.filter($"doc_id" % 2 === 0), "c1.parquet")
    val q = NbStream.run(spark, in.toString, root, ckpt, "text", "lang",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(docs.filter($"doc_id" % 2 === 1), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // the grid is non-additive (Laplace denominators move per batch)
    // but its sufficient statistics fold, so the derived model equals
    // one-shot retraining on the union — logliks bit-identical
    val oneShot = grid(Classify.nbModel(docs, "text", "lang"))
    assert(grid(NbStream.model(spark, root)) === oneShot)
    val oneShotPriors = Classify.nbPriors(docs, "lang")
      .select($"label", $"logprior".cast("string"))
      .as[(String, String)].collect().toSet
    assert(NbStream.priors(spark, root)
      .select($"label", $"logprior".cast("string"))
      .as[(String, String)].collect().toSet === oneShotPriors)
    // replaying the newest batch regenerates, never double-counts
    NbStream.appendBatch(docs.filter($"doc_id" % 2 === 1), 1L, root,
      "text", "lang")
    assert(grid(NbStream.model(spark, root)) === oneShot)
    // a reused LOWER id can only be a fresh-checkpoint restart
    val e1 = intercept[IllegalArgumentException](
      NbStream.appendBatch(docs.limit(5), 0L, root, "text", "lang"))
    assert(e1.getMessage.contains("below the newest committed batch"))
    // a model with nothing streamed is a loud error, not an empty grid
    val e2 = intercept[IllegalStateException](
      NbStream.model(spark,
        tempDir("graft-nb-empty").toString))
    assert(e2.getMessage.contains("no count partials"))
    // re-crawls: superseded versions subtract as negative partials —
    // revised text AND a class move — and the folded model/priors are
    // bit-identical to retraining on the LATEST snapshot
    val oldV = docs.filter($"doc_id" % 7 === 0)
    val newV = oldV
      .withColumn("text", concat($"text", lit(" fresh revision")))
      .withColumn("lang",
        when($"doc_id" % 14 === 0, lit("zz")).otherwise($"lang"))
    NbStream.appendDiffBatch(oldV, newV, 2L, root, "text", "lang")
    val latest = docs.filter($"doc_id" % 7 =!= 0).unionByName(newV)
    assert(grid(NbStream.model(spark, root)) ===
      grid(Classify.nbModel(latest, "text", "lang")))
    assert(NbStream.priors(spark, root)
      .select($"label", $"logprior".cast("string"))
      .as[(String, String)].collect().toSet ===
      Classify.nbPriors(latest, "lang")
        .select($"label", $"logprior".cast("string"))
        .as[(String, String)].collect().toSet)
    // subtracting a version that was never added fails loudly at
    // model derivation, not as a NaN loglik
    NbStream.appendDiffBatch(
      oldV.withColumn("text", lit("phantom never added words")),
      newV.limit(0), 3L, root, "text", "lang")
    val e3 = intercept[Exception](NbStream.model(spark, root).collect())
    assert(e3.getMessage != null &&
      e3.getMessage.contains("negative folded count") ||
      Option(e3.getCause).exists(
        _.getMessage.contains("negative folded count")))
    // priors mirror the guard: a class subtracted below zero fails
    // loudly instead of silently dropping from priors() (ADVICE r13)
    NbStream.appendDiffBatch(
      oldV.limit(2).withColumn("lang", lit("qq")),
      newV.limit(0), 4L, root, "text", "lang")
    val e4 = intercept[Exception](NbStream.priors(spark, root).collect())
    assert(e4.getMessage != null &&
      e4.getMessage.contains("negative folded doc count") ||
      Option(e4.getCause).exists(
        _.getMessage.contains("negative folded doc count")))
  }

  test("LineStream hot set equals the one-shot scrub's; supersede subtracts; guards fire") {
    import graft.pipeline.TextAnalysis
    import graft.streaming.LineStream
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val root = tempDir("graft-line-store").toString
    def hot(r: String): Set[String] =
      LineStream.hotSet(spark, r).as[String].collect().toSet
    def oneShotHot(d: org.apache.spark.sql.DataFrame): Set[String] =
      TextAnalysis.boilerplateLineCounts(d, "text")
        .filter($"cnt" > 2).select($"lf").as[String].collect().toSet
    LineStream.appendBatch(docs.filter($"doc_id" % 2 === 0), 0L,
      root, "text")
    LineStream.appendBatch(docs.filter($"doc_id" % 2 === 1), 1L,
      root, "text")
    // additive partials: the folded hot set == one-shot counting,
    // and the at-rest scrub is bit-identical to the inline form
    assert(hot(root) === oneShotHot(docs))
    def scrub(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"scrubbed", $"n_dropped")
      .as[(Long, String, Long)].collect().toSet
    assert(scrub(TextAnalysis.boilerplateScrubAgainst(docs,
        LineStream.hotSet(spark, root), "text", "doc_id")) ===
      scrub(TextAnalysis.boilerplateScrub(docs, "text", "doc_id")))
    // replaying the newest batch regenerates, never double-counts
    LineStream.appendBatch(docs.filter($"doc_id" % 2 === 1), 1L,
      root, "text")
    assert(hot(root) === oneShotHot(docs))
    // a reused LOWER id can only be a fresh-checkpoint restart
    val e1 = intercept[IllegalArgumentException](
      LineStream.appendBatch(docs.limit(5), 0L, root, "text"))
    assert(e1.getMessage.contains("below the newest committed batch"))
    // supersede: stale versions (banner-prefixed) subtracted out —
    // the folded hot set equals recounting the latest snapshot, and
    // the banner never appears as a phantom hot line
    val oldV = docs.filter($"doc_id" % 7 === 0)
    val staleV = oldV.withColumn("text",
      concat(lit("BANNER LINE\n"), $"text"))
    val root2 = tempDir("graft-line-upd").toString
    LineStream.appendBatch(docs.filter($"doc_id" % 7 =!= 0), 0L,
      root2, "text")
    LineStream.appendBatch(staleV, 1L, root2, "text")
    LineStream.appendDiffBatch(staleV, oldV, 2L, root2, "text")
    assert(hot(root2) === oneShotHot(docs))
    // subtracting a version never added fails loudly at the fold
    LineStream.appendDiffBatch(
      oldV.withColumn("text", lit("phantom never-added line")),
      oldV.limit(0), 3L, root2, "text")
    val e2 = intercept[Exception](
      LineStream.hotSet(spark, root2, 0L).collect())
    assert(e2.getMessage != null &&
      e2.getMessage.contains("negative folded count") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("negative folded count")))
    // an empty store is a loud error, not an empty hot set
    val e3 = intercept[IllegalStateException](
      LineStream.hotSet(spark,
        tempDir("graft-line-empty").toString))
    assert(e3.getMessage.contains("no count partials"))
  }

  test("incremental smoothed-LM counts equal one-shot training; streaming-driven; guards fire") {
    import java.nio.file.Files
    import graft.pipeline.TextAnalysis
    import graft.streaming.NgramLmStream
    val in = tempDir("graft-nglm-in")
    val root = tempDir("graft-nglm-root").toString
    val ckpt = tempDir("graft-nglm-ckpt").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    def grids(p: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) = (
      p._1.select($"gram", $"ll".cast("string"))
        .as[(String, String)].collect().toSet,
      p._2.select($"w", $"ll1".cast("string"))
        .as[(String, String)].collect().toSet)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-nglm-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(docs.filter($"doc_id" % 2 === 0), "c1.parquet")
    val q = NgramLmStream.run(spark, in.toString, root, ckpt, "text",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(docs.filter($"doc_id" % 2 === 1), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // the grids are non-additive (denominators move per batch) but
    // the (n, gram, cnt) statistics fold, so the derived model equals
    // one-shot training on the union — lls bit-identical
    val oneShot = grids(TextAnalysis.ngramLmSmoothedModel(
      TextAnalysis.ngramLmCounts(docs, "text")))
    assert(grids(NgramLmStream.model(spark, root)) === oneShot)
    // replaying the newest batch regenerates, never double-counts
    NgramLmStream.appendBatch(docs.filter($"doc_id" % 2 === 1), 1L,
      root, "text")
    assert(grids(NgramLmStream.model(spark, root)) === oneShot)
    // a reused LOWER id can only be a fresh-checkpoint restart
    val e1 = intercept[IllegalArgumentException](
      NgramLmStream.appendBatch(docs.limit(5), 0L, root, "text"))
    assert(e1.getMessage.contains("below the newest committed batch"))
    // a model with nothing streamed is a loud error, not empty grids
    val e2 = intercept[IllegalStateException](
      NgramLmStream.model(spark,
        tempDir("graft-nglm-empty").toString))
    assert(e2.getMessage.contains("no count partials"))
    // re-crawls supersede by negative partials: folded model equals
    // retraining on the LATEST snapshot — and the KN derivation
    // (distinct-row counts over the folded pair table) agrees too
    val oldV = docs.filter($"doc_id" % 7 === 0)
    val newV = oldV.withColumn("text",
      concat($"text", lit(" fresh revision")))
    NgramLmStream.appendDiffBatch(oldV, newV, 2L, root, "text")
    val latest = docs.filter($"doc_id" % 7 =!= 0).unionByName(newV)
    assert(grids(NgramLmStream.model(spark, root)) ===
      grids(TextAnalysis.ngramLmSmoothedModel(
        TextAnalysis.ngramLmCounts(latest, "text"))))
    def knGrid(c: org.apache.spark.sql.DataFrame) =
      TextAnalysis.ngramLmKnModel(c)._1
        .select($"gram", $"ll".cast("string"))
        .as[(String, String)].collect().toSet
    assert(knGrid(NgramLmStream.foldedCountsOf(spark, root)) ===
      knGrid(TextAnalysis.ngramLmCounts(latest, "text")))
    // subtracting a version never added fails loudly at derivation
    NgramLmStream.appendDiffBatch(
      oldV.withColumn("text", lit("phantom never added words")),
      newV.limit(0), 3L, root, "text")
    val e3 = intercept[Exception](
      NgramLmStream.model(spark, root)._1.collect())
    assert(e3.getMessage != null &&
      e3.getMessage.contains("negative folded count") ||
      Option(e3.getCause).exists(
        _.getMessage.contains("negative folded count")))
  }

  test("staged swap on a file:-scheme root acts on the real directory") {
    import graft.pipeline.PartitionedAnn
    import graft.streaming.IvfStream
    val ivf = tempDir("graft-file-swap").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    PartitionedAnn.writeIvfPartitioned(emb.filter($"vec_id" < 100),
      "embedding", "vec_id", cents, s"$ivf/base")
    IvfStream.appendBatch(emb.filter($"vec_id" >= 100), 0L, ivf, cents,
      "embedding", "vec_id")
    val before = IvfStream.layout(spark, ivf).count()
    // the java.io swap tier must normalize the file: URI — the raw
    // string would be a RELATIVE './file:...' path and the markers /
    // atomic moves would act on the wrong directory (ADVICE r13)
    IvfStream.compact(spark, s"file:$ivf")
    assert(new java.io.File(s"$ivf/base").exists())
    assert(!new java.io.File(s"$ivf/delta").exists())
    assert(!new java.io.File(s"file:$ivf").exists(),
      "compact created a relative ./file: directory")
    assert(IvfStream.layout(spark, ivf).count() === before)
  }

  test("incremental span index equals a full rebuild; compaction and crash recovery lossless") {
    import java.nio.file.Files
    import graft.pipeline.TextAnalysis
    import graft.streaming.SpanStream
    val in = tempDir("graft-span-in")
    val root = tempDir("graft-span-root").toString
    val ckpt = tempDir("graft-span-ckpt").toString
    val full = tempDir("graft-span-full").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    TextAnalysis.writeSpanIndex(docs.filter($"doc_id" % 3 === 0),
      "text", "doc_id", s"$root/base", n = 5, buckets = 16)
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-span-chunk")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(name))
    }
    addChunk(docs.filter($"doc_id" % 3 === 1), "c1.parquet")
    val q = SpanStream.run(spark, in.toString, root, ckpt, n = 5,
      buckets = 16,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      addChunk(docs.filter($"doc_id" % 3 === 2), "c2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // truth: the inline scrub over the whole corpus (and the single-
    // base at-rest form agrees — shared scrub tail)
    val expect = rows(TextAnalysis.exactSubstringScrub(docs, "text",
      "doc_id", n = 5, minCount = 2))
    TextAnalysis.writeSpanIndex(docs, "text", "doc_id", full, n = 5,
      buckets = 16)
    assert(rows(TextAnalysis.exactSubstringScrubAtRest(spark, full,
      minCount = 2)) === expect)
    def probe() = rows(SpanStream.scrubIncremental(spark, root,
      minCount = 2))
    assert(probe() === expect)
    // replaying the newest delta batch regenerates, never duplicates
    // span evidence (a duplicated gram row would flip occ>=2 for
    // singleton grams and over-scrub)
    SpanStream.appendBatch(docs.filter($"doc_id" % 3 === 2), 1L, root,
      "text", "doc_id", n = 5, buckets = 16)
    assert(probe() === expect)
    // compaction: single level, scrub unchanged, idempotent
    SpanStream.compact(spark, root)
    assert(!new java.io.File(s"$root/delta_tokens").exists())
    assert(!new java.io.File(s"$root/delta_grams").exists())
    assert(probe() === expect)
    SpanStream.compact(spark, root)
    assert(probe() === expect)
    // crash window: base deleted, staging marked with a manifest
    // naming a delta that is back on disk (the crash landed between
    // the base delete and the delta deletes; the replay-idempotent
    // appendBatch regenerates batch 1's identical trees) — recovery
    // must drop exactly that delta: the staged fold already holds its
    // rows, and a survivor would double every %3==2 document's gram
    // occurrences, flipping singleton grams over the minCount bar
    Files.move(new java.io.File(s"$root/base").toPath,
      new java.io.File(s"$root/base_compact").toPath)
    Files.write(
      new java.io.File(s"$root/base_compact/_SWAP_READY").toPath,
      "delta_tokens/batch=1\ndelta_grams/batch=1".getBytes("UTF-8"))
    SpanStream.appendBatch(docs.filter($"doc_id" % 3 === 2), 1L, root,
      "text", "doc_id", n = 5, buckets = 16)
    SpanStream.compact(spark, root)
    assert(probe() === expect,
      "manifested span delta survived recovery (duplicated evidence)")
  }

  test("ngram-lm stamp: a crashed first append's stamp doesn't wedge a cold store; a committed store rejects mixed params") {
    import java.nio.file.Files
    import graft.streaming.NgramLmStream
    val d = Seq((0L, "a b c d"), (1L, "b c d e"))
      .toDF("doc_id", "text")
    val root = tempDir("graft-nglm-stamp").toString
    // crash window: the stamp landed but the first batch never
    // committed (stamp-before-commit ordering) — the store is still
    // cold, so a first append with a DIFFERENT order re-stamps
    // instead of rejecting (round-16 ADVICE)
    Files.write(new java.io.File(root, "maxn.json").toPath,
      """{"max_n":2,"min_n":1,"boundary":false}""".getBytes("UTF-8"))
    NgramLmStream.appendBatch(d, 0L, root, "text", maxN = 3)
    assert(NgramLmStream.foldedCountsOf(spark, root)
      .filter($"n" === 3).count() > 0)
    // committed store: mixed order rejects...
    val e = intercept[IllegalArgumentException](
      NgramLmStream.appendBatch(d, 1L, root, "text", maxN = 2))
    assert(e.getMessage.contains("mixed store"))
    // ...and so does a mixed boundary convention (padded grams would
    // silently dilute the unpadded fold)
    val e2 = intercept[IllegalArgumentException](
      NgramLmStream.appendBatch(d, 1L, root, "text", maxN = 3,
        boundary = true))
    assert(e2.getMessage.contains("mixed store"))
    // matching params keep appending fine
    NgramLmStream.appendBatch(d, 1L, root, "text", maxN = 3)
  }

  test("bm25 append dup-guard fails fast on a twice-crawled doc, before the delta write") {
    // round-20: the guard rides the checkpoint/sidecar observes (no
    // grouped-count job of its own) — pin that it still fires, names
    // the doc, and that the raise lands before the delta/stats writes
    // (a dup batch's doubled evidence never reaches the store)
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.pipeline.Retrieval
    import graft.streaming.Bm25Stream
    val root = tempDir("graft-bm25-dup").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    Retrieval.writeBm25Index(docs, "text", "doc_id", s"$root/base",
      buckets = 8)
    val one = docs.filter($"doc_id" % 7 === 0)
    val dupBatch = one.union(
      one.withColumn("text", concat($"text", lit(" v2"))))
    val e = intercept[IllegalArgumentException] {
      Bm25Stream.appendBatch(dupBatch, 1L, root, "text", "doc_id",
        buckets = 8)
    }
    assert(e.getMessage.contains("more than once"))
    assert(e.getMessage.contains("doc_id"))
    assert(!new java.io.File(s"$root/delta/batch=1").exists())
    // a deduped retry with the same id succeeds (replay semantics:
    // the guard's sidecar partition is overwritten byte-identically)
    Bm25Stream.appendBatch(
      one.withColumn("text", concat($"text", lit(" v2"))), 1L, root,
      "text", "doc_id", buckets = 8)
    assert(new java.io.File(s"$root/delta/batch=1").exists())
  }

  test("sidecar _ROWS stamps: hint tracks the stamped counts, degrades without them, resets at compaction") {
    // round-19: the sidecar growth contract. The supersede sidecars'
    // anti-joins are size-gated by the summed per-batch _ROWS stamps
    // (observe-captured at append, pure driver listing to read) —
    // this pins the bookkeeping the PlanSpec gating test relies on:
    // exact under-cap hints, conservative degradation when a stamp
    // is missing (crash between parquet commit and stamp), exclusion
    // of the batch's own partition (replay safety), and the
    // post-compaction reset to zero that makes compaction cadence
    // the operational bound on sidecar size.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.pipeline.Retrieval
    import graft.streaming.{Bm25Stream, IvfStream}
    val root = tempDir("graft-bm25-stamp").toString
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    Retrieval.writeBm25Index(docs, "text", "doc_id", s"$root/base",
      buckets = 8)
    val upd = docs.filter($"doc_id" % 7 === 0)
      .withColumn("text", concat($"text", lit(" stamp probe")))
    Bm25Stream.appendBatch(upd, 1L, root, "text", "doc_id",
      buckets = 8)
    val side = s"$root/superseded"
    val n = spark.read.parquet(side).count()
    assert(n > 0)
    // the hint equals the true sidecar size without any Spark job
    assert(IvfStream.sidecarRowHint(side) === n)
    // own-batch exclusion mirrors the replay-safe reader
    assert(IvfStream.sidecarRowHint(side,
      excludeBatch = Some(1L)) === 0L)
    // a missing stamp (crash between parquet commit and stamp write)
    // reads as unbounded — the gate declines the broadcast instead
    // of under-estimating
    val marker = new java.io.File(s"$side/batch=1", "_ROWS")
    assert(marker.exists())
    assert(marker.delete())
    assert(IvfStream.sidecarRowHint(side) === Long.MaxValue)
    // an UNPARSEABLE stamp (corruption, not a crash window) also
    // degrades conservatively — and, round-20: warns loudly naming
    // the file, so a store stuck on shuffle-only joins is diagnosable
    // from the logs instead of only from a plan audit
    Files.write(marker.toPath, "not-a-number".getBytes("UTF-8"))
    val errBuf = new java.io.ByteArrayOutputStream()
    val corruptHint = Console.withErr(errBuf) {
      IvfStream.sidecarRowHint(side)
    }
    assert(corruptHint === Long.MaxValue)
    assert(errBuf.toString("UTF-8").contains("unparseable _ROWS"))
    assert(errBuf.toString("UTF-8").contains(marker.toString))
    assert(marker.delete())
    // the replay's overwrite re-stamps
    Bm25Stream.appendBatch(upd, 1L, root, "text", "doc_id",
      buckets = 8)
    assert(IvfStream.sidecarRowHint(side) === n)
    // compaction resets the sidecar — and therefore the hint — to
    // zero (the happy-path reset the growth contract documents)
    Bm25Stream.compact(spark, root)
    assert(!new java.io.File(side).exists())
    assert(IvfStream.sidecarRowHint(side) === 0L)
  }
}
