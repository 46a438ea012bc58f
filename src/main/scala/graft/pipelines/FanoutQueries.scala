package graft.pipelines

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.Relational._

/** Fan-out / generator / aggregation queries (SURVEY §2e–§2h):
  * G1 empty-preserving explode, G2 last-wins link routing, G3 EAV
  * pivot, A2–A5 collect/string aggregates, D1 dedup, S5 top-N.
  */
object FanoutQueries {

  /** G1 empty-preserving explode (opportunity.py:198,239-243): one row
    * per product of an order; orders with NO products still emit one
    * row with pid = "". `explode_outer` over the collected list is the
    * exact Spark equivalent — and relationally ≡ a left join, which is
    * what the oracle states.
    */
  val gExplodeOuter: QueryDef = QueryDef.sql(
    "g_explode_outer",
    """SELECT o.o_orderkey, o.o_orderstatus,
      |       COALESCE(CAST(l.l_partkey AS VARCHAR), '') AS pid
      |FROM orders o
      |LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey""") { (s, d) =>
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    val li = Tables.lineitem(s, d)
    val products = li.groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("pids"))
    o.join(products, o("o_orderkey") === products("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        explode_outer(col("pids")).as("pid_raw"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("pid_raw").cast("string"), lit("")).as("pid"))
  }

  /** G2 last-wins link routing (task.py:223-246): LINKS synthesized
    * per order from lineitems in linenumber order; with several links
    * of one type, the LAST wins — `try_element_at(filter(...), -1)`
    * over the position-sorted array. Oracle: DuckDB `arg_max` on the
    * position.
    */
  val gLinksLastWins: QueryDef = QueryDef.sql(
    "g_links_lastwins",
    """WITH typed AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |         CASE l_returnflag WHEN 'N' THEN 'Contact'
      |                           WHEN 'R' THEN 'Lead'
      |                           ELSE 'Opportunity' END AS ltype
      |  FROM lineitem)
      |SELECT l_orderkey AS order_id,
      |       arg_max(l_partkey, l_linenumber * 10000000 + l_partkey) FILTER (WHERE ltype = 'Contact') AS contact_id,
      |       arg_max(l_partkey, l_linenumber * 10000000 + l_partkey) FILTER (WHERE ltype = 'Lead') AS lead_id,
      |       arg_max(l_partkey, l_linenumber * 10000000 + l_partkey) FILTER (WHERE ltype = 'Opportunity') AS opportunity_id
      |FROM typed GROUP BY l_orderkey""") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val typed = li.select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      when(col("l_returnflag") === "N", "Contact")
        .when(col("l_returnflag") === "R", "Lead")
        .otherwise("Opportunity").as("ltype"))
    // sort_array over (pos, name, id) structs = links in scan order;
    // project back to the reference's LINKS shape afterwards.
    val links = typed.groupBy(col("l_orderkey")).agg(
      transform(
        sort_array(collect_list(struct(
          col("l_linenumber").as("pos"),
          col("ltype").as("LINK_OBJECT_NAME"),
          col("l_partkey").as("LINK_OBJECT_ID")))),
        x => struct(
          x.getField("LINK_OBJECT_NAME").as("LINK_OBJECT_NAME"),
          x.getField("LINK_OBJECT_ID").as("LINK_OBJECT_ID"))).as("LINKS"))
    links.select(
      col("l_orderkey").as("order_id"),
      lastLinkOfType(col("LINKS"), "Contact").as("contact_id"),
      lastLinkOfType(col("LINKS"), "Lead").as("lead_id"),
      lastLinkOfType(col("LINKS"), "Opportunity").as("opportunity_id"))
  }

  /** G3 EAV unpivot→pivot in isolation (quote.py:202): flat part
    * columns → CUSTOMFIELDS array → map_from_entries → extracted
    * columns, with the dict.get("") default for an absent key.
    */
  val gEavPivot: QueryDef = QueryDef.sql(
    "g_eav_pivot",
    """SELECT p_partkey,
      |       p_brand AS brand,
      |       p_type AS ptype,
      |       CAST(p_size AS VARCHAR) AS size_str,
      |       '' AS missing_field
      |FROM part""") { (s, d) =>
    val eav = customFields(
      "Brand__c" -> col("p_brand"),
      "Type__c" -> col("p_type"),
      "Size__c" -> col("p_size").cast("string"))
    Tables.part(s, d)
      .withColumn("cf", pivotEav(eav))
      .select(
        col("p_partkey"),
        eavGet(col("cf"), "Brand__c").as("brand"),
        eavGet(col("cf"), "Type__c").as("ptype"),
        eavGet(col("cf"), "Size__c").as("size_str"),
        eavGet(col("cf"), "Nope__c").as("missing_field"))
  }

  /** J7+A3+A4 chain (opportunity.py:95-97,168-173,196): line-items ⋈
    * broadcast product dim, group-to-list per order, falsy-skipping
    * " and "-joined string agg. Sorted for determinism (reference scan
    * order never was stable).
    */
  val aGroupCollect: QueryDef = QueryDef.sql(
    "a_group_collect",
    """SELECT l.l_orderkey AS order_id,
      |       count(*) AS n_items,
      |       string_agg(p.p_name, ' and ' ORDER BY p.p_name) AS products
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY l.l_orderkey""") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d).select("p_partkey", "p_name")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("l_orderkey").as("order_id"))
      .agg(
        count(lit(1)).as("n_items"),
        joinNonEmptySorted(collect_list(col("p_name")), " and ").as("products"))
  }

  /** A5 distinct key-set harvest (quote.py:136-148): union of deduped
    * FK sets ahead of dim prefetch.
    */
  val aDistinctKeys: QueryDef = QueryDef.sql(
    "a_distinct_keys",
    """SELECT 'cust' AS key_type, o_custkey AS key FROM orders GROUP BY o_custkey
      |UNION ALL
      |SELECT 'supp' AS key_type, l_suppkey AS key FROM lineitem GROUP BY l_suppkey""") { (s, d) =>
    val custKeys = Tables.orders(s, d).select(col("o_custkey").as("key")).distinct()
      .select(lit("cust").as("key_type"), col("key"))
    val suppKeys = Tables.lineitem(s, d).select(col("l_suppkey").as("key")).distinct()
      .select(lit("supp").as("key_type"), col("key"))
    custKeys.unionAll(suppKeys)
  }

  /** S5 source analog (opportunity_stage.py:131-173): 15-day lookback
    * window (anchored at max ts for determinism), newest-first, top 5.
    */
  val pTimeTopN: QueryDef = QueryDef.sql(
    "p_time_topn",
    s"""SELECT event_id, event_type,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
      |FROM events
      |WHERE $lookbackSql
      |ORDER BY ts DESC, event_id DESC LIMIT 5""") { (s, d) =>
    lookback(Tables.events(s, d))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(5)
      .select(col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
  }

  /** D1 whole-row dedup (quote.py:239): post-projection
    * dropDuplicates over a deliberately collapsing projection.
    */
  val dDedup: QueryDef = QueryDef.sql(
    "d_dedup",
    """SELECT DISTINCT l_returnflag, l_linestatus,
      |       CAST(year(l_shipdate) AS BIGINT) AS ship_year
      |FROM lineitem""") { (s, d) =>
    dedup(Tables.lineitem(s, d).select(
      col("l_returnflag"), col("l_linestatus"),
      year(col("l_shipdate")).cast("long").as("ship_year")))
  }

  val all: Seq[QueryDef] = Seq(
    gExplodeOuter, gLinksLastWins, gEavPivot,
    aGroupCollect, aDistinctKeys, pTimeTopN, dDedup)
}
