package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is batch-only (SURVEY
  * §2i) — every job a request-triggered full re-export — but the
  * engine exposes the streaming equivalent of its ingest so the same
  * event data can be processed incrementally instead of re-scanned:
  * exactly what replaces "re-run the whole export every HTTP call" at
  * 100 TB.
  *
  * Shape: readStream over the events directory → watermarked sliding-
  * window aggregation → sink. With a file/Kafka source this runs
  * continuously; [[startUpsertReportSink]] is the shipped sink, and
  * [[NearDupIngest.start]] builds on [[dedupWithinWatermark]].
  */
object StreamingIngest {

  /** Schema of the events table with `ts` typed as `tsType` — the
    * physical encoding varies across testdata generations (epoch-nanos
    * long under the legacy conf vs native timestamp; see
    * [[graft.Tables.normalizeTs]]), so the stream schema is built
    * around whatever the file actually carries.
    */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of the events parquet, normalizing `ts` to
    * TimestampType. FileStreamSource needs a user-supplied schema, and
    * that schema must match the physical encoding — so sniff the
    * footer with a one-file batch read (metadata only; no data scan)
    * and declare the stream schema from it.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    spark.readStream
      .schema(rawSchema(tsType))
      // FileStreamSource needs a directory; select just the events
      // file out of the shared sf dir.
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", graft.Tables.normalizeTs(tsType))
  }

  /** 1-hour tumbling windows per event type with a 2-hour watermark:
    * counts + exact decimal-summed value (same order-insensitive
    * aggregation discipline as the batch side).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Dedup-at-ingest: drop records whose key columns repeat within the
    * watermark horizon. This is the streaming counterpart of the batch
    * exact-dedup family (x_dedup_exact) — dedup WHERE the data lands,
    * instead of re-scanning the corpus afterwards.
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) is
    * the 100 TB-viable form: per-key state is evicted once the
    * watermark passes it, so state size is bounded by arrival-rate ×
    * `delay` instead of growing with every key ever seen. The contract
    * is correspondingly scoped: duplicates separated by more than the
    * watermark delay are NOT caught — pick `delay` ≥ the real-world
    * duplicate window (retry storms, at-least-once replays).
    */
  def dedupWithinWatermark(
      events: DataFrame, keys: Seq[String], tsCol: String,
      delay: String): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** foreachBatch sink through the FULL K2 upsert protocol
    * ([[UpsertSink]]): each micro-batch is rendered as a single-file
    * report (K1) and upserted into the target folder under one stable
    * name — resolve → find-child → replace — exactly the reference's
    * per-run report publish (one_drive.py:186-208). Re-running the
    * stream replaces the report in place instead of accumulating
    * copies.
    */
  def startUpsertReportSink(
      spark: SparkSession, dir: String, folderLink: String,
      fileName: String): StreamingQuery =
    windowedCounts(readEvents(spark, dir))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val folder = UpsertSink.resolveFolder(folderLink).getOrElse(
          throw new IllegalArgumentException(s"cannot resolve report folder: $folderLink"))
        // K1 single-file render, then the atomic upsert of that file
        if (UpsertSink.publishSingleFile(batch, folder, fileName).isEmpty)
          sys.error("no part file produced")
        ()
      }
      .start()
}
