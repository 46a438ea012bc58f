package graft

import org.apache.spark.sql.functions._

/** Data-layout technique for 100 TB reads: partitionBy on write means
  * a filter on the partition column prunes whole directories at plan
  * time — the scan never touches other partitions' files.
  */
class PartitionedWriteSpec extends SparkSpec {

  test("partitionBy write + partition-pruned read") {
    val dir = llm.SharedIndex.tempDir("graftpart").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)

    val en = spark.read.parquet(dir).where(col("lang") === "en")
    val plan = en.queryExecution.executedPlan.toString

    // pruning is visible as a PartitionFilters entry naming the column …
    assert(plan.contains("PartitionFilters") && plan.contains("(lang"),
      s"no partition filters in:\n$plan")
    // … and the pruned scan selects exactly one of the five lang dirs
    val scan = en.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
    assert(en.count() ==
      Tables.documents(spark, "/root/testdata/sf0.001").where(col("lang") === "en").count())
  }

  test("dynamic partition overwrite restates one partition, leaves the rest untouched") {
    // the backfill/restatement op: re-run one day/language without
    // touching the other partitions — with STATIC overwrite (the
    // default) the same write would wipe every other partition.
    val dir = llm.SharedIndex.tempDir("graftrestate").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val before = spark.read.parquet(dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // restated 'en' partition: half the docs (deterministic subset)
      docs.where(col("lang") === "en" && col("doc_id") % 2 === 0)
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    val after = spark.read.parquet(dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet, "non-restated partitions must survive")
    assert(after("en") < before("en"), "the restated partition must carry the new content")
    assert((after - "en") == (before - "en"), "other partitions must be byte-count identical")
  }
}
