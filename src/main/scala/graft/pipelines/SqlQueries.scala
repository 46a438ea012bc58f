package graft.pipelines

import graft.{QueryDef, Tables}

/** Textual-SQL surface: the same engine driven through `spark.sql`
  * over registered temp views — for users who speak SQL rather than
  * the DataFrame API. The engine runs the oracle text itself, which
  * also demonstrates ANSI-dialect compatibility.
  */
object SqlQueries {

  /** `sql` as one query: Spark runs it over the tables registered as
    * temp views under their own names, DuckDB runs it as the oracle.
    */
  private def literal(name: String, sql: String): QueryDef =
    QueryDef.sql(name, sql) { (s, d) =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach(t => Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(sql.stripMargin)
    }

  /** Pricing-summary aggregate as literal SQL text. */
  val sqlAgg: QueryDef = literal(
    "sql_agg",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""")

  /** Multi-way join as literal SQL text (revenue per nation). */
  val sqlJoin: QueryDef = literal(
    "sql_join",
    """SELECT n.n_name AS nation,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name""")

  val all: Seq[QueryDef] = Seq(sqlAgg, sqlJoin)
}
