package graft

import graft.streaming.StreamingIngest

/** Streaming pipeline driven synchronously over the sf0.001 events:
  * the windowed-agg result must equal the equivalent batch query.
  */
class StreamingSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("streaming windowed counts equal the batch equivalent") {
    val dir = "/root/testdata/sf0.001"
    val q = StreamingIngest.windowedCounts(StreamingIngest.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_out")

    val batch = StreamingIngest.windowedCounts(
      // batch frame through the same transform: read statically
      Tables.events(spark, dir))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup-at-ingest: duplicates within the watermark are dropped, state bounded") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = graft.streaming.StreamingIngest.dedupWithinWatermark(
      input.toDF().toDF("event_id", "ts", "payload"),
      keys = Seq("event_id"), tsCol = "ts", delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: two distinct keys, one at-least-once replay of key 1
      input.addData((1L, ts(0), "a"), (1L, ts(1), "a-replay"), (2L, ts(2), "b"))
      q.processAllAvailable()
      // batch 2: late replay of key 2 still inside the horizon (drop),
      // plus an advancing event that moves the watermark
      input.addData((2L, ts(5), "b-replay"), (3L, ts(30), "c"))
      q.processAllAvailable()
      // batch 3: key 1 again, but the watermark (30min - 10min delay)
      // has passed its state — by design it is re-admitted
      input.addData((1L, ts(40), "a-again"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out")
      .as[(Long, Timestamp, String)].collect().map(r => (r._1, r._3)).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (1L, "a-again")),
      s"unexpected dedup output: $got")
  }

  test("K2 upsert protocol: resolve → find-child → replace, atomically, in a temp dir") {
    import graft.streaming.{Created, Replaced, UpsertSink}
    import java.nio.file.Files
    val folder = llm.SharedIndex.tempDir("graftupsert")
    // step 1: resolve — a directory resolves, anything else is None
    // (the reference logs and skips unresolvable links)
    assert(UpsertSink.resolveFolder(folder.toString).contains(folder.toAbsolutePath.normalize))
    assert(UpsertSink.resolveFolder(folder.resolve("missing").toString).isEmpty)
    // step 2 + 3b: not among the children → upload-as-new leg
    assert(UpsertSink.findFileInFolder(folder, "report.csv").isEmpty)
    assert(UpsertSink.upsert(folder, "report.csv", p => { Files.writeString(p, "v1"); () }) == Created)
    assert(Files.readString(folder.resolve("report.csv")) == "v1")
    // step 2 + 3a: found by name → replace in place, new content wins
    assert(UpsertSink.findFileInFolder(folder, "report.csv").isDefined)
    assert(UpsertSink.upsert(folder, "report.csv", p => { Files.writeString(p, "v2"); () }) == Replaced)
    assert(Files.readString(folder.resolve("report.csv")) == "v2")
    // still exactly one child: no duplicates, no staging leftovers
    assert(folder.toFile.listFiles.map(_.getName).toSeq == Seq("report.csv"))
  }

  test("K2 upsert sink end-to-end: report lands as one named file; re-run replaces it") {
    val folder = llm.SharedIndex.tempDir("graftupsert2")
    def runOnce(): Unit = {
      val q = StreamingIngest.startUpsertReportSink(
        spark, "/root/testdata/sf0.001", folder.toString, "events_report.parquet")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(folder.toFile.listFiles.map(_.getName).toSeq == Seq("events_report.parquet"))
    val report = folder.resolve("events_report.parquet").toString
    val n = spark.read.parquet(report).count()
    assert(n > 0)
    runOnce() // the reference re-publishes the same report every run
    assert(folder.toFile.listFiles.map(_.getName).toSeq == Seq("events_report.parquet"))
    assert(spark.read.parquet(report).count() == n)
  }
}
