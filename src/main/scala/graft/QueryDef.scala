package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: the Spark implementation plus (when SQL-expressible)
  * its DuckDB oracle twin. Colocating the pair keeps column aliases in
  * lock-step — the driver's compare sorts columns by name before
  * hashing, so alias drift = failure even with identical values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle.stripMargin.trim))
}
