package graft.pipelines

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Scalars._
import graft.operators.Relational._

/** Report-pipeline analogs of the reference's seven entity exports
  * (SURVEY §3), role-mapped onto the TPC-H-ish testdata per §7:
  * orders ≈ Opportunity/Quote fact, customer(+nation/region) ≈
  * role-playing Organisation dims, supplier ≈ Users/owners, part ≈
  * Products, lineitem ≈ OpportunityLineItems.
  *
  * The reference's nested inputs (CUSTOMFIELDS EAV, LINKS edges) don't
  * exist in the testdata, so each pipeline synthesizes them from flat
  * columns first (array(struct(...)) / groupBy-collect) and then runs
  * the real operator (pivot, link-count, last-wins routing) on the
  * nested value — keeping the oracle expressible as the equivalent
  * flat SQL.
  */
object ReportPipelines {

  /** Organisation export analog (organisation.py:151-182): G3 EAV
    * pivot, A1 conditional link count, F1/F3/F7 scalars, 8-col P1
    * projection, D1 dedup.
    *
    * Plan shape at scale: one shuffle (orders groupBy custkey for the
    * link/first-order agg), nation broadcast, everything else narrow.
    */
  val orgExport: QueryDef = QueryDef.sql(
    "org_export",
    """SELECT DISTINCT
      |  c.c_custkey AS org_id,
      |  trim(regexp_replace(c.c_name, '[\r\n]', ' ', 'g')) AS org_name,
      |  COALESCE(n.n_name, '') AS country,
      |  CASE WHEN c.c_acctbal > 0 THEN 'TRUE' ELSE 'FALSE' END AS active,
      |  c.c_mktsegment AS region,
      |  CAST(c.c_custkey % 4 AS VARCHAR) AS call_frequency,
      |  COALESCE(o.cnt, 0) AS linked_contacts_count,
      |  COALESCE(o.created, '') AS created_date
      |FROM customer c
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN (
      |  SELECT o_custkey,
      |         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt,
      |         strftime(MIN(o_orderdate), '%m/%d/%Y') AS created
      |  FROM orders GROUP BY o_custkey
      |) o ON o.o_custkey = c.c_custkey""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val nat  = Tables.nation(s, d)
    val ord  = Tables.orders(s, d)

    // LINKS synthesis: orders become typed edges; sort_array makes the
    // collected order deterministic (reference scan order never was —
    // SURVEY §7 nondeterminism note).
    val linkAgg = ord.groupBy(col("o_custkey")).agg(
      sort_array(collect_list(struct(
        when(col("o_orderstatus") === "O", "Contact")
          .when(col("o_orderstatus") === "F", "Opportunity")
          .otherwise("Lead").as("LINK_OBJECT_NAME"),
        col("o_orderkey").as("LINK_OBJECT_ID")))).as("LINKS"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("created_raw"))

    // CUSTOMFIELDS synthesis → G3 pivot back through map_from_entries.
    val eav = customFields(
      "Active__c" -> when(col("c_acctbal") > 0, "true").otherwise("false"),
      "Region__c" -> col("c_mktsegment"),
      "Call_Frequency__c" -> (col("c_custkey") % 4).cast("string"))

    dedup(cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"), "left")
      .join(linkAgg, cust("c_custkey") === linkAgg("o_custkey"), "left")
      .withColumn("cf", pivotEav(eav))
      .select(
        col("c_custkey").as("org_id"),
        cleanText(col("c_name")).as("org_name"),
        coalesce(col("n_name"), lit("")).as("country"),
        boolRenderUpper(try_element_at(col("cf"), lit("Active__c"))).as("active"),
        eavGet(col("cf"), "Region__c").as("region"),
        eavGet(col("cf"), "Call_Frequency__c").as("call_frequency"),
        countLinksOfType(col("LINKS"), "Contact").cast("long").as("linked_contacts_count"),
        coalesce(formatDateOnly(col("created_raw")), lit("")).as("created_date")))
  }

  /** Users export analog (users.py:115-136): pure scan + projection,
    * the reference's simplest pipeline. Narrow, zero-shuffle plan.
    */
  val usersExport: QueryDef = QueryDef.sql(
    "users_export",
    """SELECT DISTINCT s_suppkey AS user_id,
      |       trim(regexp_replace(s_name, '[\r\n]', ' ', 'g')) AS user_name,
      |       lower(replace(s_name, ' ', '.')) || '@example.com' AS email,
      |       CASE WHEN s_acctbal > 0 THEN 'TRUE' ELSE 'FALSE' END AS active,
      |       CASE WHEN s_suppkey % 10 = 0 THEN 'TRUE' ELSE 'FALSE' END AS administrator
      |FROM supplier""") { (s, d) =>
    dedup(Tables.supplier(s, d).select(
      col("s_suppkey").as("user_id"),
      cleanText(col("s_name")).as("user_name"),
      concat(lower(regexp_replace(col("s_name"), " ", ".")), lit("@example.com")).as("email"),
      when(col("s_acctbal") > 0, "TRUE").otherwise("FALSE").as("active"),
      when(col("s_suppkey") % 10 === 0, "TRUE").otherwise("FALSE").as("administrator")))
  }

  /** Quote export analog (quote.py:189-246): J1/J2 broadcast lookups,
    * J3 join on a pivoted-out custom-field string FK, F2/F3 dates,
    * G3 EAV pivot, P1/P2 projection, D1 dedup.
    */
  val quoteExport: QueryDef = QueryDef.sql(
    "quote_export",
    """SELECT DISTINCT
      |  o.o_orderkey AS quote_id,
      |  printf('Q-%05d', o.o_orderkey) AS quote_number,
      |  CASE o.o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Closed' ELSE 'Pending' END AS status,
      |  o.o_totalprice AS total_price,
      |  CAST(o.o_orderkey % 10 AS VARCHAR) AS gst_pct,
      |  CASE o.o_orderkey % 3 WHEN 0 THEN 'FOB' WHEN 1 THEN 'CIF' ELSE 'EXW' END AS shipping_terms,
      |  COALESCE(c.c_name, '') AS org_name,
      |  COALESCE(c2.c_name, '') AS sales_person,
      |  strftime(o.o_orderdate, '%d-%b-%y %-I:%M %p') AS created,
      |  strftime(o.o_orderdate, '%m/%d/%Y') AS expiration
      |FROM orders o
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN customer c2 ON o.o_custkey = c2.c_custkey""") { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    val eav = customFields(
      "GST_Percentage__c" -> (col("o_orderkey") % 10).cast("string"),
      "Sales_Person__c" -> col("o_custkey").cast("string"),
      "Shipping_Terms__c" -> when(col("o_orderkey") % 3 === 0, "FOB")
        .when(col("o_orderkey") % 3 === 1, "CIF")
        .otherwise("EXW"))
    val withCf = o.withColumn("cf", pivotEav(eav))
    // J3: the sales-person FK lives in a custom field (string-typed);
    // join on the pivoted-out value cast back to the dim key type.
    val sales = c.select(col("c_custkey").as("sp_key"), col("c_name").as("sp_name"))
    dedup(withCf
      .join(broadcast(c), withCf("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(sales),
        try_element_at(col("cf"), lit("Sales_Person__c")).try_cast("bigint") === sales("sp_key"),
        "left")
      .select(
        col("o_orderkey").as("quote_id"),
        format_string("Q-%05d", col("o_orderkey")).as("quote_number"),
        when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Closed")
          .otherwise("Pending").as("status"),
        col("o_totalprice").as("total_price"),
        eavGet(col("cf"), "GST_Percentage__c").as("gst_pct"),
        eavGet(col("cf"), "Shipping_Terms__c").as("shipping_terms"),
        coalesce(col("c_name"), lit("")).as("org_name"),
        coalesce(col("sp_name"), lit("")).as("sales_person"),
        date_format(col("o_orderdate"), "dd-MMM-yy h:mm a").as("created"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("expiration")))
  }

  /** Opportunity export analog — the FLAGSHIP (opportunity.py:122-270):
    * 3 role-playing org joins (J4), owner join + ID;Name round-trip
    * (J5/F5), stage/state-reason dims (J6), product list via J7+A3,
    * empty-preserving explode (G1), site-name string agg with
    * exclusion (J8/A4), EAV pivot (G3), F1–F8 scalars, 23-col P1,
    * D1 dedup.
    *
    * Plan at scale: fact scans once; dims all broadcast; two shuffles
    * (per-order product list, per-order site agg) plus the final dedup
    * — matching SURVEY §3's predicted 2-wide-stage shape.
    */
  val opportunityExport: QueryDef = QueryDef.sql(
    "opportunity_export",
    """WITH nsup AS (SELECT count(*) AS n FROM supplier),
      |sites AS (
      |  SELECT l.l_orderkey, string_agg(DISTINCT s.s_name, ' and ' ORDER BY s.s_name) AS site_names
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey, nsup
      |  WHERE s.s_suppkey != l.l_orderkey % nsup.n
      |  GROUP BY l.l_orderkey),
      |prods AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT DISTINCT
      |  o.o_orderkey AS opportunity_id,
      |  printf('OPP-%d', o.o_orderkey) AS opportunity_name,
      |  COALESCE(cm.c_name, '') AS org_name,
      |  COALESCE(ce.c_name, '') AS entity_org,
      |  COALESCE(cc.c_name, '') AS channel_org,
      |  CAST(o.o_orderkey % (SELECT n FROM nsup) AS VARCHAR) || ';' || COALESCE(su.s_name, '') AS owner,
      |  COALESCE(su.s_name, '') AS owner_name,
      |  COALESCE(r.r_name, '') AS stage_name,
      |  COALESCE(n.n_name, '') AS state_reason,
      |  CASE o.o_orderstatus WHEN 'F' THEN 'WON' WHEN 'O' THEN 'OPEN' ELSE 'LOST' END AS state,
      |  CASE WHEN o.o_orderstatus = 'F' THEN 'TRUE' ELSE 'FALSE' END AS won,
      |  CASE WHEN o.o_orderkey % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END AS trial,
      |  CAST(o.o_orderkey % 10 AS VARCHAR) AS quantity_cf,
      |  o.o_totalprice AS value,
      |  CAST(o.o_orderkey % 100 AS DOUBLE) AS probability,
      |  CASE o.o_orderkey % 4 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' WHEN 2 THEN 'GBP' ELSE 'JPY' END AS bid_currency,
      |  strftime(o.o_orderdate, '%m/%d/%Y') AS forecast_close,
      |  strftime(o.o_orderdate, '%d-%b-%y %-I:%M %p') AS created,
      |  COALESCE(st.site_names, '') AS site_names,
      |  COALESCE(CAST(pr.l_partkey AS VARCHAR), '') AS pid,
      |  COALESCE(p.p_name, '') AS product_name,
      |  COALESCE(p.p_type, '') AS product_family
      |FROM orders o
      |LEFT JOIN customer cm ON o.o_custkey = cm.c_custkey
      |LEFT JOIN customer ce ON o.o_custkey + 1 = ce.c_custkey
      |LEFT JOIN customer cc ON o.o_custkey + 2 = cc.c_custkey
      |LEFT JOIN supplier su ON o.o_orderkey % (SELECT n FROM nsup) = su.s_suppkey
      |LEFT JOIN region r ON o.o_orderkey % 5 = r.r_regionkey
      |LEFT JOIN nation n ON o.o_orderkey % 25 = n.n_nationkey
      |LEFT JOIN sites st ON st.l_orderkey = o.o_orderkey
      |LEFT JOIN prods pr ON pr.l_orderkey = o.o_orderkey
      |LEFT JOIN part p ON pr.l_partkey = p.p_partkey""") { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    val reg = Tables.region(s, d)
    val nat = Tables.nation(s, d)
    val li = Tables.lineitem(s, d)
    val prt = Tables.part(s, d).select("p_partkey", "p_name", "p_type")

    // Dim cardinality as a broadcast scalar — keeps the owner-key
    // derivation declarative (no driver-side collect).
    val nsup = sup.agg(count(lit(1)).as("nsup"))

    // J8/A4: per-order site names, excluding the "main" (owner) supplier.
    val sites = li.crossJoin(broadcast(nsup))
      .where(col("l_suppkey") =!= col("l_orderkey") % col("nsup"))
      .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("l_orderkey").as("site_order"))
      .agg(joinNonEmptySorted(collect_set(col("s_name")), " and ").as("site_names"))

    // J7/A3: distinct product set per order.
    val prods = li.groupBy(col("l_orderkey").as("prod_order"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pids"))

    val eav = customFields(
      "Trial__c" -> when(col("o_orderkey") % 2 === 0, "true").otherwise("false"),
      "Quantity__c" -> (col("o_orderkey") % 10).cast("string"))

    val fact = o.crossJoin(broadcast(nsup))
      .withColumn("owner_id", col("o_orderkey") % col("nsup"))
      .withColumn("cf", pivotEav(eav))
    val joined = rolePlayingJoin(
      rolePlayingJoin(
        rolePlayingJoin(fact, c, col("o_custkey"), "c_custkey", "main", Seq("c_name" -> "name")),
        c, col("o_custkey") + 1, "c_custkey", "entity", Seq("c_name" -> "name")),
      c, col("o_custkey") + 2, "c_custkey", "channel", Seq("c_name" -> "name"))
      .join(broadcast(sup), col("owner_id") === sup("s_suppkey"), "left")
      .join(broadcast(reg), col("o_orderkey") % 5 === reg("r_regionkey"), "left")
      .join(broadcast(nat), col("o_orderkey") % 25 === nat("n_nationkey"), "left")
      .join(sites, col("o_orderkey") === sites("site_order"), "left")
      .join(prods, col("o_orderkey") === prods("prod_order"), "left")

    val exploded = joined
      .withColumn("pid_raw", explode_outer(col("pids")))
      .join(broadcast(prt), col("pid_raw") === prt("p_partkey"), "left")

    dedup(exploded.select(
      col("o_orderkey").as("opportunity_id"),
      concat(lit("OPP-"), col("o_orderkey").cast("string")).as("opportunity_name"),
      coalesce(col("main_name"), lit("")).as("org_name"),
      coalesce(col("entity_name"), lit("")).as("entity_org"),
      coalesce(col("channel_name"), lit("")).as("channel_org"),
      ownerIdName(col("owner_id"), coalesce(col("s_name"), lit(""))).as("owner"),
      coalesce(col("s_name"), lit("")).as("owner_name"),
      coalesce(col("r_name"), lit("")).as("stage_name"),
      coalesce(col("n_name"), lit("")).as("state_reason"),
      when(col("o_orderstatus") === "F", "WON")
        .when(col("o_orderstatus") === "O", "OPEN")
        .otherwise("LOST").as("state"),
      boolFromState(col("o_orderstatus"), "F").as("won"),
      boolRenderUpper(try_element_at(col("cf"), lit("Trial__c"))).as("trial"),
      eavGet(col("cf"), "Quantity__c").as("quantity_cf"),
      col("o_totalprice").as("value"),
      (col("o_orderkey") % 100).cast("double").as("probability"),
      when(col("o_orderkey") % 4 === 0, "USD")
        .when(col("o_orderkey") % 4 === 1, "EUR")
        .when(col("o_orderkey") % 4 === 2, "GBP")
        .otherwise("JPY").as("bid_currency"),
      date_format(col("o_orderdate"), "MM/dd/yyyy").as("forecast_close"),
      date_format(col("o_orderdate"), "dd-MMM-yy h:mm a").as("created"),
      coalesce(col("site_names"), lit("")).as("site_names"),
      coalesce(col("pid_raw").cast("string"), lit("")).as("pid"),
      coalesce(col("p_name"), lit("")).as("product_name"),
      coalesce(col("p_type"), lit("")).as("product_family")))
  }

  val all: Seq[QueryDef] = Seq(orgExport, usersExport, quoteExport, opportunityExport)
}
