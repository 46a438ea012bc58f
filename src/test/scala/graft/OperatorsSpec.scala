package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational._

/** Golden-row tests for the relational operator library — the
  * semantic traps from SURVEY §7.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val linksDf = Seq(
    (1L, Seq(("Contact", 10L), ("Contact", 11L), ("Lead", 20L))),
    (2L, Seq.empty[(String, Long)]),
    (3L, Seq(("Lead", 30L)))
  ).toDF("id", "raw")
    .select($"id", transform($"raw", x =>
      struct(x.getField("_1").as("LINK_OBJECT_NAME"),
        x.getField("_2").as("LINK_OBJECT_ID"))).as("LINKS"))

  test("A1 countLinksOfType: conditional count over array, 0 for empty/absent") {
    val r = linksDf.select($"id", countLinksOfType($"LINKS", "Contact").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r == Map(1L -> 2, 2L -> 0, 3L -> 0))
  }

  test("G2 lastLinkOfType: LAST of duplicated type wins (task.py:223-246)") {
    val r = linksDf.select($"id", lastLinkOfType($"LINKS", "Contact").as("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(r(1L).contains(11L)) // not 10 — last wins
    assert(r(2L).isEmpty && r(3L).isEmpty)
  }

  test("G3 EAV pivot round-trip with dict.get default") {
    val df = Seq(1).toDF("x").select(pivotEav(array(
      struct(lit("k1").as("FIELD_NAME"), lit("v1").as("FIELD_VALUE")),
      struct(lit("k2").as("FIELD_NAME"), lit("v2").as("FIELD_VALUE")))).as("m"))
    val r = df.select(
      eavGet($"m", "k1").as("a"),
      eavGet($"m", "missing").as("b")).head()
    assert(r.getString(0) == "v1")
    assert(r.getString(1) == "")   // dict.get(k, "")
  }

  test("G1 explode_outer preserves empty groups as one row (opportunity.py:239-243)") {
    val o = Seq(1L, 2L).toDF("k")
    val li = Seq((1L, 100L), (1L, 101L)).toDF("k2", "pid")
    val products = li.groupBy($"k2").agg(collect_list($"pid").as("pids"))
    val out = o.join(products, $"k" === $"k2", "left")
      .select($"k", explode_outer($"pids").as("p"))
      .select($"k", coalesce($"p".cast("string"), lit("")).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "100"), (1L, "101"), (2L, ""))) // key 2: one row, pid ""
  }

  test("A4 joinNonEmptySorted skips null/empty and sorts deterministically") {
    val r = Seq(Seq("b", "", "a", null, "c")).toDF("xs")
      .select(joinNonEmptySorted($"xs", " and ").as("j")).head().getString(0)
    assert(r == "a and b and c")
  }

  test("D1 dedup is idempotent and order-insensitive") {
    val df = Seq((1, "a"), (1, "a"), (2, "b"), (1, "a")).toDF("x", "y")
    val once = dedup(df)
    assert(once.count() == 2)
    assert(dedup(once).count() == 2)
  }

  test("S4 semiFilteredDim keeps only rows matching fact keys") {
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val keys = Seq(2L, 2L, 3L).toDF("fk")
    val r = semiFilteredDim(dim, "k", keys).select("k").as[Long].collect().toSet
    assert(r == Set(2L, 3L))
  }

  test("saltedJoin equals the plain join (skew-safe rewrite)") {
    val sf = "/root/testdata/sf0.001"
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_name")
    val plain = o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select("o_orderkey", "c_name")
    val salted = saltedJoin(o, c, "o_custkey", "c_custkey", $"o_orderkey", 8)
      .select("o_orderkey", "c_name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("rolePlayingJoin: same dim under two roles, missing key -> null") {
    val fact = Seq((1L, 10L), (2L, 99L)).toDF("fk", "dimkey")
    val dim = Seq((10L, "ten")).toDF("k", "name")
    val out = rolePlayingJoin(fact, dim, $"dimkey", "k", "r1", Seq("name" -> "name"))
    val m = out.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("r1_name"))).toMap
    assert(m(1L).contains("ten") && m(2L).isEmpty)
  }

  test("x_approx_profile: sketch-tolerance flags all pass and exact counts match") {
    val sf = "/root/testdata/sf0.001"
    // the query now carries its own approx-vs-exact comparison: the
    // *_ok flags must all be 1 (that is exactly what the oracle pins)
    // and the surfaced exact counts must match a direct computation
    val row = pipelines.AnalyticsQueries.approxProfile.run(spark, sf).collect().head
    val exact = Tables.lineitem(spark, sf).selectExpr(
      "count(distinct l_orderkey) AS orders",
      "count(distinct l_partkey) AS parts").collect().head
    assert(row.getAs[Long]("exact_orders") == exact.getLong(0))
    assert(row.getAs[Long]("exact_parts") == exact.getLong(1))
    for (flag <- Seq("orders_ok", "parts_ok", "p50_ok", "p99_ok"))
      assert(row.getAs[Long](flag) == 1L, s"$flag: sketch outside tolerance")
  }
}
