package graft.pipelines

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Aggregation queries (SURVEY §2e). Doubles are cast to decimal
  * per-row before summing so the aggregate is exact and
  * order-insensitive — a 100 TB shuffle reorders partial aggregates
  * freely, and float-sum nondeterminism would break both the oracle
  * hash and run-to-run reproducibility. Final cast back to double for
  * a stable output schema.
  */
object AggQueries {

  /** Classic wide aggregate over the fact table: map-side partial
    * aggregation (HashAggregate partial → shuffle on 2 low-cardinality
    * keys → final) — the canonical scalable agg shape.
    */
  val q1Agg: QueryDef = QueryDef.sql(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |       COUNT(*) AS n_rows,
      |       COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""") { (s, d) =>
    // Explicit two-phase distinct with INTEGER-CENT partials: the
    // single-distinct rewrite forces phase 1 to aggregate per
    // (flag, status, orderkey) — |orders|-sized, the query's wide
    // stage — and decimal sum buffers there (isEmpty flag + overflow
    // checks per row) measured 2–2.5× the primitive path
    // (OPTIMIZATION_r17.md §1: decimal sums alone 0.60 s, distinct
    // alone 0.64 s, combined 1.31 s; long-cent partials 1.02 s). Cents
    // are exact (values carry ≤ 2 decimals by the declared cast) and the
    // per-group partial is bounded by lines-per-order × max price —
    // schema constants, not corpus size — so the long never
    // overflows at any scale; the decimal sum over per-order
    // partials runs in the |flag×status|-group phase 2 where its
    // cost is nil, and sum-of-partial-sums equals the declared
    // decimal sum exactly (integer-cent associativity). The /100 is
    // exact decimal division, so the final double is bit-identical
    // to CAST(SUM(DECIMAL(18,2)) AS DOUBLE).
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("qc"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("pc"))
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"))
      .agg(sum("qc").as("sqc"), sum("pc").as("spc"), count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(col("sqc").cast("decimal(28,0)")) / 100).cast("double").as("sum_qty"),
        (sum(col("spc").cast("decimal(28,0)")) / 100).cast("double").as("sum_base"),
        sum(col("c")).as("n_rows"),
        count(col("l_orderkey")).as("n_orders"))
  }

  val all: Seq[QueryDef] = Seq(q1Agg)
}
