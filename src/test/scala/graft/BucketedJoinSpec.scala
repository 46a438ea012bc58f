package graft

import org.apache.spark.sql.functions._

/** Scale-technique proof: bucketed tables co-located on the join key
  * join WITHOUT a shuffle — the plan for the lineitem⋈orders fact-fact
  * join at 100 TB, where re-shuffling either side per query is the
  * dominant cost. Locally: write both sides bucketed by the key,
  * assert the join plan contains no shuffle Exchange.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed fact-fact join plans without shuffle exchanges") {
    val wh = llm.SharedIndex.tempDir("graftwh").toString
    val sf = "/root/testdata/sf0.001"
    val nBuckets = 8

    Tables.lineitem(spark, sf)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables.orders(spark, sf)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    try {
      // disable auto-broadcast so the join genuinely exercises the
      // co-located path rather than broadcasting the small test side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("q"))

      val plan = joined.queryExecution.executedPlan.toString
      val joinShuffles = plan.split("HashAggregate").head // shuffles before the agg
        .split("\n").count(l => l.contains("Exchange hashpartitioning"))
      assert(joinShuffles == 0, s"expected shuffle-free bucketed join, plan:\n$plan")
      assert(joined.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
