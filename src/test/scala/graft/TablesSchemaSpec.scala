package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader schema canaries. The driver regenerated events.parquet from
  * Parquet TIMESTAMP(NANOS) to native timestamp[us] between rounds and
  * the then-unconditional nanos workaround broke 10 queries at
  * analysis for two rounds. These specs make that class of environment
  * drift fail as ONE named assertion instead of a pile of downstream
  * analysis errors:
  *   1. `Tables.events` must yield identical typed rows from every ts
  *      encoding it claims to support (long-nanos legacy, native
  *      timestamp, native timestamp_ntz).
  *   2. Every loader's post-load dtypes are pinned against all three
  *      sf dirs, so the next silent regeneration names the table and
  *      column that moved.
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(dir: String, ts: org.apache.spark.sql.Column): Unit =
    Seq(
      (1L, 1700000000123456L, 10L, "view", 1.5, """{"k":1}"""),
      (2L, 1700000061654321L, 11L, "click", 2.5, """{"k":2}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("Tables.events yields identical rows from long-nanos, timestamp, and timestamp_ntz encodings") {
    val base = llm.SharedIndex.tempDir("events_encodings").toString
    // legacy shape: ts arrives as a raw nanosecond long (what a
    // TIMESTAMP(NANOS) file reads as under the nanosAsLong conf)
    writeFixture(s"$base/nanos", (col("us") * 1000).as("ts"))
    // native session-zoned timestamp (isAdjustedToUTC=true micros)
    writeFixture(s"$base/tstz", timestamp_micros(col("us")).as("ts"))
    // native timestamp_ntz (isAdjustedToUTC=false micros) — the
    // current testdata encoding
    writeFixture(s"$base/ntz",
      timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))

    val results = Seq("nanos", "tstz", "ntz").map { enc =>
      val df = Tables.events(spark, s"$base/$enc")
      assert(df.schema("ts").dataType == TimestampType,
        s"$enc: post-load ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
      enc -> df.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .as[(Long, Timestamp, Long, String, Double, String)].collect().toSet
    }
    val (refEnc, ref) = results.head
    for ((enc, got) <- results.tail)
      assert(got == ref, s"rows from $enc encoding differ from $refEnc: $got vs $ref")
    assert(ref.map(_._1) == Set(1L, 2L) && ref.exists(_._2.getTime == 1700000000123L))
  }

  // Expected post-load dtypes per loader — pinned to what the current
  // driver-generated parquet carries (TESTDATA.md). If the driver
  // regenerates a table with a different physical encoding, the
  // assertion that fails here NAMES the table+column, which is the
  // debugging entry point the round-7/8 breakage lacked.
  private val expected: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    // post-normalizeTs: always session-zoned TimestampType
    "events" -> Map("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  private val loaders: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  for (sf <- Seq("0.001", "0.01", "0.1"))
    test(s"all 10 loaders yield the pinned dtypes at sf$sf") {
      val dir = s"/root/testdata/sf$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir not present")
      for ((name, want) <- expected) {
        val got = loaders(name)(spark, dir).schema
          .map(f => f.name -> f.dataType).toMap
        for ((colName, dt) <- want)
          assert(got.get(colName).contains(dt),
            s"$name.$colName at sf$sf: expected $dt, got ${got.get(colName)}")
        assert(got.keySet == want.keySet,
          s"$name at sf$sf: column set drifted — got ${got.keySet}, pinned ${want.keySet}")
      }
    }
}
