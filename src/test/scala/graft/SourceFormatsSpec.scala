package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage (SURVEY S6/K1/K4): the engine reads and
  * writes csv and json alongside parquet, with schema round-trips.
  */
class SourceFormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    Tables.documents(spark, "/root/testdata/sf0.001").limit(50).cache()

  test("CSV round-trip preserves rows and values (header + explicit schema)") {
    val dir = llm.SharedIndex.tempDir("graftcsv").toString
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.count() == 50)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("JSON round-trip preserves rows and values") {
    val dir = llm.SharedIndex.tempDir("graftjson").toString
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    assert(back.count() == 50)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("format sniff dispatch: csv vs json content heuristic (S6)") {
    // the stage_report fmt column logic as a standalone expression
    val df = Seq("{\"k\": 1}", "a,b,c", "{}", "plain").toDF("content")
      .select(when(col("content").startsWith("{"), "json").otherwise("csv").as("fmt"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("json", "csv", "json", "csv"))
  }
}
