package graft.pipelines

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Scalars._
import graft.operators.Relational._

/** Task / Equipment / Invoice / StageReport export analogs
  * (task.py, equiment.py, invoice.py, opportunity_stage.py).
  */
object EntityPipelines {

  /** Task export analog (task.py:121-280): G2 last-wins link routing
    * across the reference's six link types, J9 dim probes per type,
    * and the J10 two-hop org fallback where an Opportunity link's
    * PARENT org competes with a direct Organisation link — whichever
    * appears LATER in the LINKS array wins (ties → Organisation, the
    * reference's loop-order behavior).
    *
    * LINKS are synthesized from lineitems: type from
    * (returnflag, linestatus), position from a composite
    * (linenumber, partkey, suppkey) key so last-wins is total-ordered.
    */
  val taskExport: QueryDef = QueryDef.sql(
    "task_export",
    """WITH typed AS (
      |  SELECT l_orderkey,
      |         CASE l_returnflag || l_linestatus
      |           WHEN 'AO' THEN 'Contact' WHEN 'AF' THEN 'Lead'
      |           WHEN 'NO' THEN 'Opportunity' WHEN 'NF' THEN 'Organisation'
      |           WHEN 'RO' THEN 'Project' ELSE 'Note' END AS t,
      |         CASE WHEN l_returnflag || l_linestatus = 'AO' THEN l_suppkey ELSE l_partkey END AS id,
      |         l_linenumber * 10000000000 + l_partkey * 100000 + l_suppkey AS pos
      |  FROM lineitem),
      |links AS (
      |  SELECT l_orderkey,
      |    arg_max(id, pos) FILTER (WHERE t = 'Contact') AS contact_id,
      |    arg_max(id, pos) FILTER (WHERE t = 'Lead') AS lead_id,
      |    arg_max(id, pos) FILTER (WHERE t = 'Opportunity') AS opp_id,
      |    max(pos) FILTER (WHERE t = 'Opportunity') AS opp_pos,
      |    arg_max(id, pos) FILTER (WHERE t = 'Organisation') AS org_id,
      |    max(pos) FILTER (WHERE t = 'Organisation') AS org_pos,
      |    arg_max(id, pos) FILTER (WHERE t = 'Project') AS project_id,
      |    arg_max(id, pos) FILTER (WHERE t = 'Note') AS note_id
      |  FROM typed GROUP BY l_orderkey)
      |SELECT DISTINCT
      |  o.o_orderkey AS task_id,
      |  printf('Task-%d', o.o_orderkey) AS title,
      |  COALESCE(r.r_name, '') AS category,
      |  CASE WHEN o.o_orderstatus = 'F' THEN 'TRUE' ELSE 'FALSE' END AS completed,
      |  strftime(o.o_orderdate, '%m/%d/%Y') AS due_date,
      |  COALESCE(sc.s_name, '') AS contact_name,
      |  COALESCE(pl.p_name, '') AS lead_name,
      |  COALESCE(po.p_name, '') AS opportunity_name,
      |  COALESCE(pp.p_name, '') AS project_name,
      |  COALESCE(CAST(lk.note_id AS VARCHAR), '') AS note_ref,
      |  COALESCE(no2.n_name, '') AS linked_org
      |FROM orders o
      |LEFT JOIN links lk ON o.o_orderkey = lk.l_orderkey
      |LEFT JOIN region r ON o.o_orderkey % 5 = r.r_regionkey
      |LEFT JOIN supplier sc ON lk.contact_id = sc.s_suppkey
      |LEFT JOIN part pl ON lk.lead_id = pl.p_partkey
      |LEFT JOIN part po ON lk.opp_id = po.p_partkey
      |LEFT JOIN part pp ON lk.project_id = pp.p_partkey
      |LEFT JOIN nation no2 ON (CASE WHEN lk.opp_pos IS NOT NULL AND (lk.org_pos IS NULL OR lk.opp_pos > lk.org_pos)
      |                              THEN lk.opp_id ELSE lk.org_id END) % 25 = no2.n_nationkey""") { (s, d) =>
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val reg = Tables.region(s, d)
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    val prt = Tables.part(s, d).select("p_partkey", "p_name")
    val nat = Tables.nation(s, d)

    val typed = li.select(
      col("l_orderkey"),
      when(concat(col("l_returnflag"), col("l_linestatus")) === "AO", "Contact")
        .when(concat(col("l_returnflag"), col("l_linestatus")) === "AF", "Lead")
        .when(concat(col("l_returnflag"), col("l_linestatus")) === "NO", "Opportunity")
        .when(concat(col("l_returnflag"), col("l_linestatus")) === "NF", "Organisation")
        .when(concat(col("l_returnflag"), col("l_linestatus")) === "RO", "Project")
        .otherwise("Note").as("t"),
      when(concat(col("l_returnflag"), col("l_linestatus")) === "AO", col("l_suppkey"))
        .otherwise(col("l_partkey")).as("id"),
      (col("l_linenumber") * 10000000000L + col("l_partkey") * 100000L + col("l_suppkey")).as("pos"))

    // G2 last-wins per type: max over (pos, id) structs — nulls
    // (other types) are ignored by max; lexicographic struct order
    // means max = the link latest in array position.
    def lastOf(t: String) = max(when(col("t") === t, struct(col("pos"), col("id"))))
    val links = typed.groupBy(col("l_orderkey")).agg(
      lastOf("Contact").as("c"), lastOf("Lead").as("l"), lastOf("Opportunity").as("op"),
      lastOf("Organisation").as("og"), lastOf("Project").as("pr"), lastOf("Note").as("nt"))
      .select(
        col("l_orderkey"),
        col("c.id").as("contact_id"), col("l.id").as("lead_id"),
        col("op.id").as("opp_id"), col("op.pos").as("opp_pos"),
        col("og.id").as("org_id"), col("og.pos").as("org_pos"),
        col("pr.id").as("project_id"), col("nt.id").as("note_id"))

    // J10: Opportunity-parent vs direct-Organisation, later-position
    // wins, tie → Organisation (strict > mirrors the loop order).
    val chosenOrg = when(
      col("opp_pos").isNotNull && (col("org_pos").isNull || col("opp_pos") > col("org_pos")),
      col("opp_id")).otherwise(col("org_id"))

    dedup(o
      .join(links, o("o_orderkey") === links("l_orderkey"), "left")
      .join(broadcast(reg), col("o_orderkey") % 5 === reg("r_regionkey"), "left")
      .join(broadcast(sup.select(col("s_suppkey"), col("s_name"))),
        col("contact_id") === col("s_suppkey"), "left")
      .join(broadcast(prt.select(col("p_partkey").as("pl_key"), col("p_name").as("pl_name"))),
        col("lead_id") === col("pl_key"), "left")
      .join(broadcast(prt.select(col("p_partkey").as("po_key"), col("p_name").as("po_name"))),
        col("opp_id") === col("po_key"), "left")
      .join(broadcast(prt.select(col("p_partkey").as("pp_key"), col("p_name").as("pp_name"))),
        col("project_id") === col("pp_key"), "left")
      .join(broadcast(nat), chosenOrg % 25 === nat("n_nationkey"), "left")
      .select(
        col("o_orderkey").as("task_id"),
        concat(lit("Task-"), col("o_orderkey").cast("string")).as("title"),
        coalesce(col("r_name"), lit("")).as("category"),
        when(col("o_orderstatus") === "F", "TRUE").otherwise("FALSE").as("completed"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("due_date"),
        coalesce(col("s_name"), lit("")).as("contact_name"),
        coalesce(col("pl_name"), lit("")).as("lead_name"),
        coalesce(col("po_name"), lit("")).as("opportunity_name"),
        coalesce(col("pp_name"), lit("")).as("project_name"),
        idToString(col("note_id")).as("note_ref"),
        coalesce(col("n_name"), lit("")).as("linked_org")))
  }

  /** Equipment export analog (equiment.py:122-177): custom-object
    * scan, EAV pivot with string-typed numerics kept verbatim
    * (invoice.py:186-189's no-cast contract), owner "Name||ID||User"
    * format, dims via pivoted custom-field FKs.
    */
  val equipmentExport: QueryDef = QueryDef.sql(
    "equipment_export",
    """WITH nsup AS (SELECT count(*) AS n FROM supplier)
      |SELECT DISTINCT
      |  p.p_partkey AS equipment_id,
      |  trim(regexp_replace(p.p_name, '[\r\n]', ' ', 'g')) AS equipment_name,
      |  COALESCE(s.s_name, '') || '||' || CAST(p.p_partkey % (SELECT n FROM nsup) AS VARCHAR) || '||User' AS owner,
      |  COALESCE(n.n_name, '') AS entity_org,
      |  COALESCE(r.r_name, '') AS site_org,
      |  CASE WHEN p.p_size % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END AS active,
      |  CAST(p.p_size AS VARCHAR) AS quantity_str,
      |  p.p_retailprice AS retail_price,
      |  p.p_brand AS brand
      |FROM part p
      |LEFT JOIN supplier s ON p.p_partkey % (SELECT n FROM nsup) = s.s_suppkey
      |LEFT JOIN nation n ON p.p_partkey % 25 = n.n_nationkey
      |LEFT JOIN region r ON p.p_partkey % 5 = r.r_regionkey""") { (s, d) =>
    val p = Tables.part(s, d)
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    val nsup = sup.agg(count(lit(1)).as("nsup"))

    val eav = customFields(
      "Active__c" -> when(col("p_size") % 2 === 0, "true").otherwise("false"),
      "Quantity__c" -> col("p_size").cast("string"),
      "Entity__c" -> (col("p_partkey") % 25).cast("string"))

    dedup(p.crossJoin(broadcast(nsup))
      .withColumn("owner_id", col("p_partkey") % col("nsup"))
      .withColumn("cf", pivotEav(eav))
      .join(broadcast(sup), col("owner_id") === sup("s_suppkey"), "left")
      .join(broadcast(nat),
        try_element_at(col("cf"), lit("Entity__c")).try_cast("int") === nat("n_nationkey"), "left")
      .join(broadcast(reg), col("p_partkey") % 5 === reg("r_regionkey"), "left")
      .select(
        col("p_partkey").as("equipment_id"),
        cleanText(col("p_name")).as("equipment_name"),
        ownerPipeFormat(col("owner_id"), coalesce(col("s_name"), lit(""))).as("owner"),
        coalesce(col("n_name"), lit("")).as("entity_org"),
        coalesce(col("r_name"), lit("")).as("site_org"),
        boolRenderUpper(try_element_at(col("cf"), lit("Active__c"))).as("active"),
        eavGet(col("cf"), "Quantity__c").as("quantity_str"),
        col("p_retailprice").as("retail_price"),
        col("p_brand").as("brand")))
  }

  /** Invoice-history export analog (invoice.py:160-214): J12
    * struct-valued org lookup under two roles (invoiced org via
    * orders→customer→nation, site via supplier→nation), F4 UI dates,
    * F5 owner format, string-typed passthrough amounts.
    */
  val invoiceExport: QueryDef = QueryDef.sql(
    "invoice_export",
    """SELECT DISTINCT
      |  printf('INV-%d-%d', l.l_orderkey, l.l_linenumber) AS invoice_id,
      |  l.l_extendedprice AS amount,
      |  l.l_quantity AS qty,
      |  CASE l.l_returnflag WHEN 'A' THEN 'Paid' WHEN 'N' THEN 'Open' ELSE 'Overdue' END AS status,
      |  strftime(l.l_shipdate, '%d/%m/%Y') AS inv_date,
      |  COALESCE(c.c_name, '') AS org_name,
      |  COALESCE(c.c_mktsegment, '') AS org_type,
      |  COALESCE(cn.n_name, '') AS org_region,
      |  COALESCE(s.s_name, '') AS site_name,
      |  COALESCE(sn.n_name, '') AS site_region,
      |  CAST(l.l_suppkey AS VARCHAR) || ';' || COALESCE(s.s_name, '') AS owner
      |FROM lineitem l
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |LEFT JOIN nation sn ON s.s_nationkey = sn.n_nationkey""") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)

    val withOrg = li
      .join(o, li("l_orderkey") === o("o_orderkey"), "left")
      .join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
    val orgRegion = rolePlayingJoin(withOrg, nat, col("c_nationkey"), "n_nationkey",
      "orgr", Seq("n_name" -> "name"))
    val withSite = orgRegion
      .join(broadcast(sup.select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"), "left")
    val siteRegion = rolePlayingJoin(withSite, nat, col("s_nationkey"), "n_nationkey",
      "siter", Seq("n_name" -> "name"))

    dedup(siteRegion.select(
      concat(lit("INV-"), col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("invoice_id"),
      col("l_extendedprice").as("amount"),
      col("l_quantity").as("qty"),
      when(col("l_returnflag") === "A", "Paid")
        .when(col("l_returnflag") === "N", "Open")
        .otherwise("Overdue").as("status"),
      date_format(col("l_shipdate"), "dd/MM/yyyy").as("inv_date"),
      coalesce(col("c_name"), lit("")).as("org_name"),
      coalesce(col("c_mktsegment"), lit("")).as("org_type"),
      coalesce(col("orgr_name"), lit("")).as("org_region"),
      coalesce(col("s_name"), lit("")).as("site_name"),
      coalesce(col("siter_name"), lit("")).as("site_region"),
      ownerIdName(col("l_suppkey"), coalesce(col("s_name"), lit(""))).as("owner")))
  }

  /** Stage-report ingest analog (opportunity_stage.py:131-173 + S6):
    * 15-day lookback window (anchored at max ts), subject-contains
    * filter, format sniff (CSV vs JSON heuristic of
    * opportunity_stage.py:50-82), passthrough projection.
    */
  val stageReport: QueryDef = QueryDef.sql(
    "stage_report",
    s"""SELECT event_id AS row_id,
      |       user_id AS reporter,
      |       value AS amount,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS received,
      |       CASE WHEN props LIKE '{%' THEN 'json' ELSE 'csv' END AS fmt
      |FROM events
      |WHERE $lookbackSql
      |  AND event_type = 'purchase'""") { (s, d) =>
    lookback(Tables.events(s, d))
      .where(col("event_type") === "purchase")
      .select(
        col("event_id").as("row_id"),
        col("user_id").as("reporter"),
        col("value").as("amount"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("received"),
        when(col("props").startsWith("{"), "json").otherwise("csv").as("fmt"))
  }

  val all: Seq[QueryDef] = Seq(taskExport, equipmentExport, invoiceExport, stageReport)
}
