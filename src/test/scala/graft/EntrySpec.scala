package graft

/** Contract smoke: every registered query runs and returns rows at
  * sf0.001, every oracle key exists in queries, and the flagship entry
  * is non-empty — the driver's t1 check plus registry hygiene.
  */
class EntrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows (driver t1)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("every query runs at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle-checked queries emit flat schemas (comparator-safe)") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.oracleSql.keys.toSeq.sorted.flatMap { name =>
      val bad = SparkEntry.queries(name)(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => f.name
      }
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"nested output columns risk the driver's hash compare:\n${offenders.mkString("\n")}")
  }

  test("all five reference trigger compositions produce non-empty reports") {
    import pipelines.Triggers._
    val reports = trigger1(spark, sf) ++ trigger2(spark, sf) ++ trigger3(spark, sf) ++
      trigger4(spark, sf) ++ trigger5(spark, sf)
    assert(reports.size == 8)
    val empty = reports.collect { case (n, df) if df.isEmpty => n }
    assert(empty.isEmpty, s"empty reports: $empty")
  }

  test("queries that should always produce rows do") {
    val mustBeNonEmpty = Seq(
      "org_export", "opportunity_export", "quote_export", "task_export",
      "users_export", "invoice_export", "equipment_export", "q1_agg",
      "x_text_stats", "x_fingerprint", "x_minhash_signature", "x_ann_topk")
    val empty = mustBeNonEmpty.filter(n => SparkEntry.queries(n)(spark, sf).isEmpty)
    assert(empty.isEmpty, s"unexpectedly empty: $empty")
  }
}
