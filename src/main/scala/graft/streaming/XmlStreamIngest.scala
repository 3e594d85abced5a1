package graft.streaming

import graft.ingest.XmlIngest
import graft.model.ParsedDocument
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous conversion: "process XML files as they appear".
  *
  * The reference's async fiber pipeline (async_processor.rb:24-44) is
  * a one-shot run; its natural streaming upgrade is Structured
  * Streaming's file source discovering new files per micro-batch. The
  * whole-file read uses the text source in `wholetext` mode (the file
  * streaming source does not support binaryFile), so each micro-batch
  * row is one complete XML document; the batch then flows through the
  * exact same parse → explode → dedup stages as the batch ingest and
  * appends to the parquet tables via `foreachBatch`.
  *
  * Append semantics: last-write-wins holds within a micro-batch (same
  * window dedup as batch ingest); across batches the parquet tables
  * accumulate one version per batch and readers resolve keys with the
  * same deterministic rule — or a periodic compaction job rewrites
  * them (the streaming-upsert pattern for immutable object stores). */
object XmlStreamIngest {

  /** Streaming per-file parse: one [[ParsedDocument]] per discovered
    * file. The file stream source is used only for *discovery* (one
    * wholetext row per new file); the task then re-reads the raw bytes
    * from the filesystem so the parser sees the original encoding
    * (a UTF-16 or latin-1 file would be mangled by the text source's
    * UTF-8 decode) and the recorded file size is the true byte length —
    * identical semantics to the batch binaryFile path. */
  def parsedStream(spark: SparkSession, inputDir: String): Dataset[ParsedDocument] = {
    import spark.implicits._
    spark.readStream
      .format("text")
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.xml")
      .option("recursiveFileLookup", "true")
      .load(inputDir)
      .select(input_file_name().as("path"))
      .as[String]
      .mapPartitions { paths =>
        val parser = XmlIngest.newParser()
        paths.flatMap { rawUri =>
          try {
            // input_file_name() is percent-encoded — decode via URI so
            // ids match the batch path for names with spaces etc.
            val uri = new java.net.URI(rawUri)
            val p = new org.apache.hadoop.fs.Path(uri)
            val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
            val len = fs.getFileStatus(p).getLen
            val in = fs.open(p)
            val bytes = try {
              val buf = new java.io.ByteArrayOutputStream()
              val chunk = new Array[Byte](65536)
              var n = in.read(chunk)
              while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
              buf.toByteArray
            } finally in.close()
            XmlIngest.parseOne(p.toUri.getPath, len, bytes, parser)
          } catch { case _: Exception => None }
        }
      }
  }

  /** Run the continuous conversion into `outDir` (parquet append per
    * micro-batch; rows carry their micro-batch id in `_batch` so
    * [[compact]] can resolve cross-batch keys). */
  def run(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    parsedStream(spark, inputDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[ParsedDocument], batchId: Long) =>
        if (!batch.isEmpty) {
          try {
            val t = XmlIngest.tables(batch)
            Seq(
              t.documents -> "documents",
              t.nodes -> "nodes",
              t.properties -> "node_properties"
            ).foreach { case (df, name) =>
              df.withColumn("_batch", lit(batchId))
                .write.mode("append").parquet(s"$outDir/$name")
            }
          } finally
            // tables() caches the parse IR (this same plan) — release
            // it or a continuous run accumulates storage per batch
            batch.unpersist()
        }
        ()
      }
      .start()

  /** Cross-batch key resolution: within a batch the tables are already
    * deduplicated; across batches the highest `_batch` wins per key
    * (INSERT OR REPLACE arrival order). Writes clean tables (no
    * `_batch`) under `outDir/compacted` — the periodic-compaction leg
    * of the streaming-upsert pattern for immutable stores. Reads with
    * mergeSchema=true so output dirs whose early batches predate a
    * column addition (e.g. documents.file_hash) union to the widest
    * schema instead of silently taking one footer's view. */
  def compact(spark: SparkSession, outDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    def lastWins(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): org.apache.spark.sql.DataFrame =
      df.withColumn("_rn", row_number().over(
          Window.partitionBy(keys.map(col): _*)
            .orderBy(col("_batch").desc)))
        .filter(col("_rn") === 1)
        .drop("_rn")
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.drop("_batch").write.mode("overwrite")
        .parquet(s"$outDir/compacted/$name")
    write(lastWins(spark.read.option("mergeSchema", "true").parquet(s"$outDir/documents"), Seq("id")),
      "documents")
    // nodes obey BOTH replace keys, like the batch ingest: PK id, then
    // UNIQUE(parent_id, position) for non-null parents
    val byId = lastWins(spark.read.option("mergeSchema", "true").parquet(s"$outDir/nodes"), Seq("id"))
    val byPos = lastWins(byId.filter(col("parent_id").isNotNull),
      Seq("parent_id", "position"))
    write(byPos.unionByName(byId.filter(col("parent_id").isNull)), "nodes")
    write(lastWins(spark.read.option("mergeSchema", "true").parquet(s"$outDir/node_properties"),
      Seq("node_id", "property_name")), "node_properties")
  }
}
