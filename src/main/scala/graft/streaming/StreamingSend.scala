package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.jobs.{JobConf, SendToWarehouseJob}

/** Structured Streaming variant of the ingestion job (SURVEY §7.3).
  *
  * The reference is a batch CLI over <100 files (seghouse/app.py:23-27);
  * its only streaming-ish semantic is idempotent re-delivery via
  * ReplacingMergeTree dedup on message_id (O-22). Natively:
  * `readStream.json(dir)` + event-time watermark on `timestamp` +
  * `dropDuplicatesWithinWatermark(message_id)` gives exactly-once-per-
  * message-id ingestion with bounded state, and `foreachBatch` reuses the
  * batch `processBatch` core unchanged — one code path for both runtimes.
  */
object StreamingSend {

  def start(
      spark: SparkSession,
      conf: JobConf,
      namespace: String,
      sourceDir: String,
      sourceSchema: StructType,
      checkpointDir: String,
      watermark: String = "1 hour",
      trigger: Trigger = Trigger.AvailableNow(),
      sourceOptions: Map[String, String] = Map.empty
  ): StreamingQuery = {
    val job = new SendToWarehouseJob(spark, conf, namespace)
    val raw = spark.readStream.schema(sourceSchema)
      .options(sourceOptions) // e.g. maxFilesPerTrigger: AvailableNow
      // honors it as a rate limit, so a big backlog drains as MANY
      // bounded micro-batches instead of one giant one
      .json(sourceDir)

    val deduped =
      if (raw.columns.contains("timestamp") && raw.columns.contains("messageId"))
        raw
          .withColumn("__event_ts", to_timestamp(col("timestamp")))
          .withWatermark("__event_ts", watermark)
          .dropDuplicatesWithinWatermark("messageId")
          .drop("__event_ts")
      else raw

    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // no emptiness probe here: it would re-run the stateful dedup
        // source, and processBatch's first pass already finds empty batches
        job.processBatch(batch)
      }
      .start()
  }

  /** The LIVE redundancy monitor over the SAME ingest directory [[start]]
    * consumes (the O-2 NDJSON source): maintains the cross-source
    * distinct (source, gram-hash) TYPE state —
    * `SourceOverlap.gramTypes` (a shuffle-free per-doc projection) under
    * an event-time watermark with `dropDuplicatesWithinWatermark` — and
    * appends new types to a parquet state table, so
    * `SourceOverlap.redundancyFromTypes(spark.read.parquet(typesPath))`
    * serves the containment matrix at ANY point without rescanning the
    * corpus. Restart-safe by construction: the type state and the file-
    * source offsets live in the checkpoint, so a stopped monitor resumed
    * on the same checkpoint emits each type ONCE even when the file that
    * carried it is re-read (the multi-warehouse restart discipline, on
    * monitor state instead of warehouse rows). Re-arrivals beyond the
    * watermark re-emit — the same already-adjudicated expiry tradeoff as
    * the q68/q72 incremental dedup; the batch twin
    * (`SourceOverlap.redundancyMatrix`) remains the exact census.
    *
    * @param textCol the ingested column carrying document text
    * @param srcCol  the ingested column naming the source/feed
    * @param tsCol   event-time column (ISO string or timestamp) for the
    *                watermark
    */
  def startRedundancyCensus(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      checkpointDir: String,
      typesPath: String,
      srcCol: String,
      textCol: String,
      tsCol: String,
      n: Int = 3,
      watermark: String = "1 hour",
      trigger: Trigger = Trigger.AvailableNow(),
      sourceOptions: Map[String, String] = Map.empty
  ): StreamingQuery = {
    val raw = spark.readStream.schema(sourceSchema)
      .options(sourceOptions)
      .json(sourceDir)
      .select(col(srcCol), to_timestamp(col(tsCol)).as("__event_ts"),
        col(textCol))
    graft.operators.SourceOverlap
      .gramTypes(raw, srcCol, textCol, n, carryCols = Seq("__event_ts"))
      .withWatermark("__event_ts", watermark)
      .dropDuplicatesWithinWatermark(srcCol, "gram")
      .select(col(srcCol), col("gram"))
      .writeStream.format("parquet")
      .option("path", typesPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
