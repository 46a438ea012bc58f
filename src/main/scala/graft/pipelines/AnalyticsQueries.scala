package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.streaming.{NearDupIngest, Sessionize}

/** OLAP analytics surface beyond the reference: rollup, pivot, exact
  * quantiles, sketch-based profiling.
  */
object AnalyticsQueries {

  /** ROLLUP over (status, year): subtotal + grand-total rows. Group
    * nulls coalesced to sentinel values so the oracle compare is
    * null-representation-independent.
    */
  val rollup: QueryDef = QueryDef.sql(
    "x_rollup",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(CAST(year(o_orderdate) AS BIGINT), -1) AS yr,
      |       count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, year(o_orderdate))""") { (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), year(col("o_orderdate")).as("yr_raw"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("yr_raw").cast("long"), lit(-1L)).as("yr"),
        col("n"), col("total"))
  }

  /** Pivot: returnflag × linestatus counts as columns (the relational
    * pivot operator; oracle = conditional aggregation).
    */
  val pivotCounts: QueryDef = QueryDef.sql(
    "x_pivot",
    """SELECT l_returnflag,
      |       count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
      |       count(*) FILTER (WHERE l_linestatus = 'F') AS n_finished
      |FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("O", "F"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_finished"))
  }

  /** Exact quantiles (linear interpolation over sorted values) per
    * group — both engines implement the same q·(n−1) rule.
    */
  val quantiles: QueryDef = QueryDef.sql(
    "x_quantiles",
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.25) AS q25,
      |       quantile_cont(l_quantity, 0.5) AS q50,
      |       quantile_cont(l_quantity, 0.75) AS q75
      |FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    // scalar columns rather than one array value: flat schemas are
    // what generic hash-comparators handle robustly
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25D)").as("q25"),
        expr("percentile(l_quantity, 0.5D)").as("q50"),
        expr("percentile(l_quantity, 0.75D)").as("q75"))
  }

  /** Sketch-based profiling — the 100 TB path where exact distincts
    * are unaffordable: HLL++ distinct estimates + approximate
    * percentiles. The raw sketch values are engine-specific, so the
    * query emits tolerance checks instead: each approx aggregate is
    * compared against its exact twin IN the same aggregation and
    * surfaced as a 0/1 column — deterministic, hence hash-checkable
    * (the oracle asserts the exact values and all-1 flags). The exact
    * twins are affordable here because this is the CALIBRATION query;
    * the production 100 TB path runs the sketches alone.
    *
    * Tolerance 0.15: HLL++ at default rsd 0.05 lands within a few
    * percent on these cardinalities, and approx_percentile at
    * accuracy 1000 is rank-exact to 0.1% — 0.15 gives an order of
    * magnitude of headroom while still failing on a broken sketch.
    */
  val approxProfile: QueryDef = QueryDef.sql(
    "x_approx_profile",
    """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |       CAST(1 AS BIGINT) AS orders_ok,
      |       CAST(1 AS BIGINT) AS parts_ok,
      |       CAST(1 AS BIGINT) AS p50_ok,
      |       CAST(1 AS BIGINT) AS p99_ok
      |FROM lineitem""") { (s, d) =>
    val tol = 0.15
    // Three independent 1-row aggregations combined by scalar
    // cross-joins (whitelisted in PlanAuditSpec). The sketch families
    // share ONE pass; the two exact distinct counts each need their
    // own two-phase aggregation (folding them into the main pass
    // would force Spark's multi-distinct Expand — 3× the rows through
    // a sort aggregate, measured 8+ s at sf0.1 vs ~half that in this
    // shape); the exact percentiles run through the distributed-rank
    // helper below (see exactPercentilesRanked's doc for the measured
    // 3.8 s → ~0.5 s and the 100 TB memory argument).
    val li = Tables.lineitem(s, d)
    // The exact percentiles come from the distributed-rank helper, NOT
    // the builtin `percentile` aggregate: on a high-cardinality double
    // column the builtin buffers a per-partition OpenHashMap of every
    // distinct value (measured ALONE at 3.8 s of this query's 4.4 s at
    // sf0.1; ~600k distinct prices), where the rank formulation is one
    // range-partitioned sort + a 4-row order-statistics lookup
    // (measured ~0.5 s), and — unlike the hashmap — never concentrates
    // the value set in executor memory at 100 TB.
    val onePass = li.agg(
      approx_count_distinct(col("l_orderkey")).as("a_orders"),
      approx_count_distinct(col("l_partkey")).as("a_parts"),
      expr("approx_percentile(l_extendedprice, 0.5D, 1000)").as("a_p50"),
      expr("approx_percentile(l_extendedprice, 0.99D, 1000)").as("a_p99"))
    val exactPcts = exactPercentilesRanked(li.select(col("l_extendedprice")),
      Seq("e_p50" -> 0.5, "e_p99" -> 0.99))
    val exactOrders = li.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("exact_orders"))
    val exactParts = li.select("l_partkey").distinct()
      .agg(count(lit(1)).as("exact_parts"))
    onePass.crossJoin(exactPcts).crossJoin(exactOrders).crossJoin(exactParts)
      .select(
        col("exact_orders"), col("exact_parts"),
        (abs(col("a_orders") - col("exact_orders")) <= col("exact_orders") * tol)
          .cast("long").as("orders_ok"),
        (abs(col("a_parts") - col("exact_parts")) <= col("exact_parts") * tol)
          .cast("long").as("parts_ok"),
        (abs(col("a_p50") - col("e_p50")) <= abs(col("e_p50")) * tol)
          .cast("long").as("p50_ok"),
        (abs(col("a_p99") - col("e_p99")) <= abs(col("e_p99")) * tol)
          .cast("long").as("p99_ok"))
  }

  /** Exact percentiles of a numeric column by DISTRIBUTED RANK — the
    * optimization-round replacement for the builtin `percentile`
    * aggregate on high-cardinality inputs. The builtin is a
    * TypedImperativeAggregate that buffers every distinct value in a
    * per-partition OpenHashMap and merges the maps: measured 3.8 s
    * alone on sf0.1's 600k-distinct price column, and at 100 TB the
    * merged map IS the value set — a driver/executor memory cliff.
    * This formulation is the classic scale shape: range-partition the
    * values, rank locally within each sorted partition
    * ([[graft.operators.Relational.rangeRank]] — no single-task global
    * window), then read the two order statistics each percentile
    * interpolates between; n is summed from the per-partition counts.
    *
    * Semantics replicate Spark's `Percentile.getPercentile` exactly:
    * `pos = q·(n−1)` (0-based over the sorted non-null multiset),
    * result = `v[floor(pos)]` when the position is integral, else
    * `(ceil(pos) − pos)·v[floor(pos)] + (pos − floor(pos))·v[ceil(pos)]`
    * — the identical double arithmetic, so results are bit-equal.
    * Nulls are dropped (as the builtin does); an empty input yields
    * one row of nulls (the builtin's null).
    *
    * @param values single-column DataFrame (cast to double internally)
    * @param qs     (output column name, percentile) pairs
    * @return 1-row DataFrame with one double column per entry of `qs`
    */
  private[graft] def exactPercentilesRanked(values: DataFrame,
      qs: Seq[(String, Double)]): DataFrame = {
    val v = values.select(col(values.columns.head).cast("double").as("v"))
      .where(col("v").isNotNull)
    val (ranked, counts) = graft.operators.Relational.rangeRank(v, "v", "rn")
    // 1-row bounds table: n plus each percentile's position and the
    // 1-based ranks of the two order statistics it interpolates
    val bounds = counts.agg(sum("cnt").as("n_vals")).select(
      Seq(col("n_vals")) ++ qs.flatMap { case (name, q) =>
        val pos = lit(q) * (col("n_vals") - 1).cast("double")
        Seq(pos.as(s"pos_$name"),
          (floor(pos) + 1).as(s"lo_$name"),
          (ceil(pos) + 1).as(s"hi_$name"))
      }: _*)
    // ≤ 2·|qs| rows survive the 1-row broadcast bound join (the
    // whitelisted scalar-overlay pattern); one trivial aggregation
    // then assembles the interpolations
    val need = qs.map { case (name, _) =>
      col("rn") === col(s"lo_$name") || col("rn") === col(s"hi_$name")
    }.reduce(_ || _)
    val interp = qs.map { case (name, _) =>
      val pos = min(col(s"pos_$name"))
      val lo = min(col(s"lo_$name"))
      val hi = min(col(s"hi_$name"))
      val vLo = min(when(col("rn") === col(s"lo_$name"), col("v")))
      val vHi = min(when(col("rn") === col(s"hi_$name"), col("v")))
      // (higher − pos)·vLo + (pos − lower)·vHi over the 0-based
      // indices (rank − 1), the builtin's exact double expression
      when(lo === hi, vLo)
        .otherwise(((hi - 1).cast("double") - pos) * vLo +
          (pos - (lo - 1).cast("double")) * vHi)
        .as(name)
    }
    ranked.join(broadcast(bounds), need)
      .agg(interp.head, interp.tail: _*)
  }

  /** The SAMPLED evidence mode of [[approxProfile]] — the shape a
    * 100 TB profiling job actually runs: sketches scan the FULL table
    * (that's their whole point), but the exact calibration twins run
    * on a deterministic 1-in-`m` sample keyed by the profiled key
    * (`l_orderkey % m = 0`), so the evidence cost is 1/m of the data
    * instead of two extra full-table distinct aggregations.
    *
    * What the sample can and cannot certify, deliberately encoded in
    * the output: sampling BY the key gives an unbiased ×m estimator
    * for THAT key's own cardinality (the keys ≡ 0 mod m are a 1/m
    * slice of the key space) and for any value distribution
    * (percentiles — rows land in the sample independently of price),
    * so those three checks survive; the foreign-key distinct
    * (l_partkey) does NOT scale by ×m under a sample keyed on
    * l_orderkey (coupon-collector, not linear), so this mode drops
    * that check rather than fake it. Tolerance stays 0.15: measured
    * sample error here is ≤3% at the smallest SF and the HLL adds a
    * few percent — the flag still fails on a broken sketch (or a
    * broken sampler).
    *
    * The exact-evidence config ([[approxProfile]]) is unchanged — it
    * remains the calibration query; this is the production profile.
    */
  val approxProfileSampled: QueryDef = QueryDef.sql(
    "x_approx_profile_s20",
    """WITH s AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
      |SELECT CAST(20 * count(DISTINCT l_orderkey) AS BIGINT) AS est_orders,
      |       CAST(1 AS BIGINT) AS orders_ok,
      |       CAST(1 AS BIGINT) AS p50_ok,
      |       CAST(1 AS BIGINT) AS p99_ok
      |FROM s""".stripMargin) { (s, d) =>
    val tol = 0.15
    val m = 20
    val li = Tables.lineitem(s, d)
    // full-scan sketch pass (the production cost) + sampled exact pass
    // (1/m of the rows, ONE aggregation — the distinct is affordable
    // in-sample), combined by a 1-row scalar cross-join
    val sketches = li.agg(
      approx_count_distinct(col("l_orderkey")).as("a_orders"),
      expr("approx_percentile(l_extendedprice, 0.5D, 1000)").as("a_p50"),
      expr("approx_percentile(l_extendedprice, 0.99D, 1000)").as("a_p99"))
    val sampled = li.where(col("l_orderkey") % m === 0).agg(
      (countDistinct(col("l_orderkey")) * m).as("est_orders"),
      expr("percentile(l_extendedprice, 0.5D)").as("e_p50"),
      expr("percentile(l_extendedprice, 0.99D)").as("e_p99"))
    sketches.crossJoin(sampled)
      .select(
        col("est_orders"),
        (abs(col("a_orders") - col("est_orders")) <= col("est_orders") * tol)
          .cast("long").as("orders_ok"),
        (abs(col("a_p50") - col("e_p50")) <= abs(col("e_p50")) * tol)
          .cast("long").as("p50_ok"),
        (abs(col("a_p99") - col("e_p99")) <= abs(col("e_p99")) * tol)
          .cast("long").as("p99_ok"))
  }

  /** The as-of oracle: DuckDB's native ASOF LEFT JOIN of each click to
    * its user's most recent prior-or-simultaneous purchase.
    */
  private val asofSql =
    """WITH a AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
      |SELECT a.event_id, a.user_id, a.ts,
      |       b.event_id AS prior_event_id, b.ts AS prior_ts, b.value AS prior_value
      |FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts"""

  /** An as-of query: clicks and deduped purchases joined by `asof`,
    * whose signature both as-of operators share, against [[asofSql]].
    */
  private def asofQuery(name: String)(asof: (DataFrame, DataFrame, String, String,
      Seq[String]) => DataFrame): QueryDef = QueryDef.sql(name, asofSql) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
      .where(col("rn") === 1)
      .select("user_id", "ts", "event_id", "value")
    asof(clicks, purchases, "user_id", "ts", Seq("event_id", "value"))
      .select("event_id", "user_id", "ts", "prior_event_id", "prior_ts", "prior_value")
  }

  /** As-of join: each click event enriched with the user's most
    * recent prior-or-simultaneous purchase (id/value), left-outer —
    * clicks with no prior purchase keep nulls. The Spark side is the
    * union-scan [[graft.operators.AsOfJoin]] (one shuffle on user_id,
    * linear per-partition scan); the oracle is DuckDB's native
    * ASOF LEFT JOIN — two entirely different formulations, hash-matched.
    * Purchases are pre-deduped to one row per (user, ts) (max
    * event_id wins) so the match is deterministic.
    */
  val asofJoin: QueryDef = asofQuery("x_asof_join")(graft.operators.AsOfJoin.asofJoin)

  /** Range join: same-user event pairs within 30 minutes of each
    * other (ordered by event_id so each unordered pair appears once),
    * with the exact µs gap. The Spark side is the banded equi-join
    * [[graft.operators.RangeJoin]] (time quantized to tolerance-wide
    * bands, 3× probe fan-out, shuffle on (user, band) — never a
    * per-key nested loop); the oracle is the naive inequality join,
    * affordable for DuckDB at oracle scale.
    */
  val rangeJoin: QueryDef = QueryDef.sql(
    "x_range_join",
    """SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
      |       date_diff('microsecond', a.ts, b.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(date_diff('microsecond', a.ts, b.ts)) <= 1800000000""") { (s, d) =>
    val ev = Tables.events(s, d)
    val a = ev.select(col("event_id").as("event_a"), col("user_id"), col("ts").as("ts_a"))
    val b = ev.select(col("event_id").as("event_b"), col("user_id"), col("ts").as("ts_b"))
    graft.operators.RangeJoin.rangeJoin(a, b, key = "user_id",
        lts = "ts_a", rts = "ts_b", toleranceSec = 1800L)
      .where(col("event_a") < col("event_b"))
      .select(col("event_a"), col("event_b"), col("user_id"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
  }

  /** The SAME as-of semantics through the custom native operator
    * ([[org.apache.spark.sql.graft.AsOfJoinExec]] — LogicalPlan +
    * Strategy + SparkPlan registered at call time): one forward merge
    * pass per co-partitioned sorted partition, O(1) state. Sharing
    * x_asof_join's DuckDB ASOF oracle pins the custom physical
    * operator itself to a reference engine, not merely to the
    * declarative formulation.
    */
  val asofNative: QueryDef =
    asofQuery("x_asof_native")(org.apache.spark.sql.graft.AsOfJoinNative.asofJoinNative)

  /** Interval-overlap join: each click event carries an activity
    * interval [ts, ts + min(value, 120)·60 s] and pairs with every
    * same-user view interval it overlaps — the two-sided temporal
    * join (ad attribution, concurrent-session detection) that
    * generalizes x_range_join's point proximity. Durations are capped
    * at the 2 h band width so each interval covers ≤ 2 bands; the
    * Spark side is the banded equi-join [[graft.operators.IntervalJoin]],
    * the oracle the naive inequality join. `overlap_s` is exact
    * integer seconds of intersection (inclusive ends, so touching
    * intervals overlap 0 s and still pair).
    */
  private def intervalJoinSql(capMin: Double): String =
    s"""WITH iv AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS s_us,
       |         epoch_us(ts) + CAST(floor(least(value, $capMin) * 60) AS BIGINT) * 1000000 AS e_us
       |  FROM events)
       |SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
       |       (least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us)) // 1000000 AS overlap_s
       |FROM iv a JOIN iv b
       |  ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'view'
       | AND a.s_us <= b.e_us AND b.s_us <= a.e_us""".stripMargin

  private def intervalJoinDf(s: org.apache.spark.sql.SparkSession, d: String,
      capMin: Double, bandSec: Long): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("s_us", unix_micros(col("ts")))
      // floor BEFORE the long cast: DuckDB's double→BIGINT cast rounds
      // while Spark's truncates — floor() is identical in both.
      .withColumn("e_us",
        col("s_us") + floor(least(col("value"), lit(capMin)) * 60).cast("long") * 1000000L)
    val a = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("s_us").as("a_s"), col("e_us").as("a_e"))
    val b = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("s_us").as("b_s"), col("e_us").as("b_e"))
    // id-based form: the multi-band dedup exchanges only
    // (user_id, click_id, view_id); bounds re-attach by id
    graft.operators.IntervalJoin.intervalJoinById(a, b, key = "user_id",
        lId = "click_id", rId = "view_id",
        lStartUs = "a_s", lEndUs = "a_e", rStartUs = "b_s", rEndUs = "b_e",
        bandSec = bandSec)
      .select(col("click_id"), col("view_id"), col("user_id"),
        expr("(least(a_e, b_e) - greatest(a_s, b_s)) div 1000000").as("overlap_s"))
  }

  val intervalJoin: QueryDef = QueryDef.sql(
    "x_interval_join", intervalJoinSql(capMin = 120.0)) { (s, d) =>
    intervalJoinDf(s, d, capMin = 120.0, bandSec = 7200L)
  }

  /** Tighter activity window (durations capped at 60 min, band sized
    * to match): fewer, shorter overlaps; same parameterized builder
    * and oracle on both sides.
    */
  val intervalJoinC60: QueryDef = QueryDef.sql(
    "x_interval_join_c60", intervalJoinSql(capMin = 60.0)) { (s, d) =>
    intervalJoinDf(s, d, capMin = 60.0, bandSec = 3600L)
  }

  /** The tighter inactivity gap (10 min) of the `_g10`/`_s2` configs. */
  private val TightGapMs: Long = 10 * 60 * 1000L

  /** Batch sessionization: each user's events grouped into sessions
    * separated by an inactivity gap — the conversation/session-assembly
    * operator of an event-stream training pipeline. The Spark side is
    * [[graft.streaming.Sessionize.sessionizeBatch]] (gaps-and-islands:
    * lag → boundary flag → running sum, one shuffle by user); the
    * oracle is the same formulation in DuckDB SQL,
    * [[graft.streaming.Sessionize.sessionIndexedSql]], so the gap
    * parameterization cannot drift between engine and oracle. Ties on
    * (user, ts) are harmless: a tie group can only flag once, so
    * session membership is order-independent and the min/max/count
    * aggregates are deterministic.
    */
  private def sessionizeQuery(name: String, gapMs: Long): QueryDef = QueryDef.sql(name,
    s"""WITH ${Sessionize.sessionIndexedSql(gapMs)}
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM sx GROUP BY user_id, session_idx""".stripMargin) { (s, d) =>
    Sessionize.sessionizeBatch(Tables.events(s, d), gapMs)
      .withColumn("n_events", col("n_events").cast("long"))
  }

  /** Sessions at the default 30-minute gap. */
  val sessionize: QueryDef = sessionizeQuery("x_sessionize", Sessionize.GapMs)

  /** Sessionization at a 10-minute gap — the knob an engagement
    * analysis turns to split the same stream into tighter sessions.
    * Own oracle, pinning that the gap parameterization is real on
    * both the Spark and SQL sides (the streaming path takes the same
    * parameter).
    */
  val sessionizeG10: QueryDef = sessionizeQuery("x_sessionize_g10", TightGapMs)

  /** Session-scoped event-type transition matrix: corpus-wide counts
    * of (event_type → next event_type) WITHIN a session — transitions
    * never cross an inactivity gap, which is exactly what composing
    * with the sessionizer buys over a naive per-user lead. The Markov
    * structure of the event stream: for an agentic-training pipeline,
    * the action-transition statistics read before episode filtering
    * (e.g. sessions ending error→error are retry loops, not
    * demonstrations). `share_q` is the exact quantized share of all
    * transitions (10⁶·n div total).
    *
    * Scale shape: session indexing is the one shuffle by user the
    * sessionizer already pays; the lead is another pass over the same
    * per-user window partitioning; the matrix is a groupBy over
    * ≤ |event types|² cells and the share window runs over those
    * bounded cells only. Order within a tie is pinned by (ts,
    * event_id) so the matrix is deterministic on any input.
    */
  private def transitionMatrixSql(gapMs: Long): String =
    s"""WITH ${Sessionize.sessionIndexedSql(gapMs, "event_id", "event_type")},
       |tr AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id, session_idx
       |           ORDER BY ts, event_id) AS to_type
       |  FROM sx),
       |m AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
       |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n_trans,
       |       CAST(n_trans * 1000000 // sum(n_trans) OVER () AS BIGINT) AS share_q
       |FROM m""".stripMargin

  private def transitionMatrixDf(s: SparkSession, d: String, gapMs: Long): DataFrame = {
    val seq = Sessionize.sessionIndexed(Tables.events(s, d), gapMs)
    val bySess = Window.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    val m = seq
      .withColumn("to_type", lead("event_type", 1).over(bySess))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_trans"))
    // rows = |event types|²: bounded, see scaladoc
    m.withColumn("tot", sum(col("n_trans")).over(Window.partitionBy()))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("n_trans * 1000000 div tot").as("share_q"))
  }

  val transitionMatrix: QueryDef = QueryDef.sql(
    "x_transition_matrix", transitionMatrixSql(Sessionize.GapMs)) { (s, d) =>
    transitionMatrixDf(s, d, Sessionize.GapMs)
  }

  /** The 10-minute-gap config — tighter sessions cut more cross-gap
    * transitions out of the matrix; pins the gap through the
    * composition (same knob as x_sessionize_g10).
    */
  val transitionMatrixG10: QueryDef = QueryDef.sql(
    "x_transition_matrix_g10", transitionMatrixSql(TightGapMs)) { (s, d) =>
    transitionMatrixDf(s, d, TightGapMs)
  }

  /** Session conversion funnel: how many sessions contain the step
    * sequence AS AN ORDERED SUBSEQUENCE (step i+1 strictly after the
    * first completion of step i, within one session) — the funnel an
    * engagement or agentic-episode analysis reads. Distinct from the
    * transition matrix: the funnel requires ORDER across arbitrary
    * gaps inside the session, not adjacency. `share_q` is the exact
    * quantized conversion vs all sessions.
    *
    * Scale shape: one session-keyed min-aggregate per step, each
    * chained by a (user, session) equi-join to the previous step's
    * first-completion time — |steps| passes over the session-indexed
    * events, every join on the session key, output |steps| rows.
    */
  private def sessionFunnelSql(gapMs: Long, steps: Seq[String]): String = {
    val stepCtes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (
           |  SELECT user_id, session_idx, min(ts) AS t1 FROM sx
           |  WHERE event_type = '$st' GROUP BY 1, 2)""".stripMargin
      else
        s"""s${i + 1} AS (
           |  SELECT sx.user_id, sx.session_idx, min(sx.ts) AS t${i + 1}
           |  FROM sx JOIN s$i ON sx.user_id = s$i.user_id AND sx.session_idx = s$i.session_idx
           |  WHERE sx.event_type = '$st' AND sx.ts > s$i.t$i
           |  GROUP BY 1, 2)""".stripMargin
    }
    val unions = steps.zipWithIndex.map { case (st, i) =>
      s"SELECT ${i + 1} AS step, '$st' AS step_type, CAST((SELECT count(*) FROM s${i + 1}) AS BIGINT) AS n_sessions"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${Sessionize.sessionIndexedSql(gapMs, "event_type")},
       |${stepCtes.mkString(",\n")},
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM
       |    (SELECT DISTINCT user_id, session_idx FROM sx)),
       |f AS (
       |  $unions)
       |SELECT f.step, f.step_type, f.n_sessions,
       |       CAST(f.n_sessions * 1000000 // tot.n AS BIGINT) AS share_q
       |FROM f CROSS JOIN tot""".stripMargin
  }

  private[graft] def sessionFunnelDf(s: SparkSession, d: String, gapMs: Long,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "empty funnel")
    // pinned (lazy localCheckpoint): every step frame AND the total-
    // session count read the session-indexed events, and without the
    // pin each of the |steps|+1 branches re-runs the two-window
    // sessionization chain from the scan (OPTIMIZATION_r17.md §2:
    // sessionIndexed 0.39 s alone, the 2-step funnel 0.98 s ≈ 3
    // re-derivations) —
    // within-query pin, same pattern as pairOverlaps' cnt
    val sx = Sessionize.sessionIndexed(Tables.events(s, d), gapMs)
      .select("user_id", "session_idx", "ts", "event_type")
      .localCheckpoint(false)
    val keys = Seq("user_id", "session_idx")
    // chain of first-completion frames: step i+1's candidates are the
    // step-(i+1)-typed events of sessions that completed step i,
    // strictly after that completion
    val firsts = steps.zipWithIndex.foldLeft(List.empty[DataFrame]) {
      case (acc, (st, i)) =>
        val cand = sx.where(col("event_type") === st)
        val scoped = acc.headOption match {
          case None => cand
          case Some(prev) =>
            cand.join(prev.select(col("user_id"), col("session_idx"),
                col("t").as("t_prev")), keys)
              .where(col("ts") > col("t_prev"))
        }
        scoped.groupBy(keys.map(col): _*).agg(min("ts").as("t")) :: acc
    }.reverse
    // fully distributed: per-step 1-row counts unioned, then the
    // 1-row total-session scalar broadcast for the share (the
    // x_approx_profile scalar-cross-join pattern)
    val stepCounts = steps.zip(firsts).zipWithIndex.map { case ((st, f), i) =>
      f.agg(count(lit(1)).as("n_sessions"))
        .select(lit(i + 1).as("step"), lit(st).as("step_type"), col("n_sessions"))
    }.reduce(_ unionAll _)
    val tot = sx.select("user_id", "session_idx").distinct()
      .agg(count(lit(1)).as("n_total"))
    stepCounts.crossJoin(broadcast(tot))
      .select(col("step"), col("step_type"), col("n_sessions"),
        expr("n_sessions * 1000000 div n_total").as("share_q"))
  }

  val sessionFunnel: QueryDef = QueryDef.sql(
    "x_session_funnel",
    sessionFunnelSql(Sessionize.GapMs, Seq("view", "click", "purchase"))) { (s, d) =>
    sessionFunnelDf(s, d, Sessionize.GapMs, Seq("view", "click", "purchase"))
  }

  /** A different step sequence at the tighter gap — pins both the
    * sequence and the gap as real parameters of the funnel.
    */
  val sessionFunnelS2: QueryDef = QueryDef.sql(
    "x_session_funnel_s2",
    sessionFunnelSql(TightGapMs, Seq("signup", "purchase"))) { (s, d) =>
    sessionFunnelDf(s, d, TightGapMs, Seq("signup", "purchase"))
  }

  /** Cohort retention matrix over the event stream: users are
    * cohorted by the period (day or week) of their FIRST event, and
    * each (cohort, period-offset) cell counts the cohort's users
    * active in that period, with the exact quantized retention vs the
    * cohort's size. The standard engagement-decay read — and for an
    * agentic/assistant event stream, the "do users come back"
    * number — whose cells also feed churn-adjusted data-volume
    * forecasts for the training pipeline.
    *
    * Scale shape: first-seen is one user-keyed min-aggregate; the
    * active set is a (user, period) DISTINCT; the two meet on a
    * user-keyed equi-join (both sides already user-partitioned).
    * Cell count is |periods|² and cohort sizes are ≤ |periods| rows —
    * broadcast. Nothing scales beyond |users| + |events|.
    */
  private def retentionSql(grain: String, divDays: Int): String =
    s"""WITH fs AS (
       |  SELECT user_id, CAST(date_trunc('$grain', min(ts)) AS DATE) AS cohort_start
       |  FROM events GROUP BY 1),
       |aw AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('$grain', ts) AS DATE) AS p
       |  FROM events),
       |j AS (
       |  SELECT fs.cohort_start,
       |         CAST(date_diff('day', fs.cohort_start, aw.p) // $divDays AS BIGINT) AS period_offset
       |  FROM aw JOIN fs ON aw.user_id = fs.user_id),
       |act AS (
       |  SELECT cohort_start, period_offset, CAST(count(*) AS BIGINT) AS n_active
       |  FROM j GROUP BY 1, 2),
       |cs AS (
       |  SELECT cohort_start, CAST(count(*) AS BIGINT) AS cohort_size
       |  FROM fs GROUP BY 1)
       |SELECT act.cohort_start, act.period_offset, act.n_active, cs.cohort_size,
       |       CAST(act.n_active * 1000000 // cs.cohort_size AS BIGINT) AS retention_q
       |FROM act JOIN cs ON act.cohort_start = cs.cohort_start""".stripMargin

  private def retentionDf(s: SparkSession, d: String, grain: String,
      divDays: Int): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val fs = ev.groupBy("user_id")
      .agg(to_date(date_trunc(grain, min("ts"))).as("cohort_start"))
    val aw = ev.select(col("user_id"), to_date(date_trunc(grain, col("ts"))).as("p"))
      .distinct()
    val act = aw.join(fs, "user_id")
      .select(col("cohort_start"),
        expr(s"CAST(datediff(p, cohort_start) DIV $divDays AS BIGINT)").as("period_offset"))
      .groupBy("cohort_start", "period_offset").agg(count(lit(1)).as("n_active"))
    val cs = fs.groupBy("cohort_start").agg(count(lit(1)).as("cohort_size"))
    act.join(broadcast(cs), "cohort_start")
      .select(col("cohort_start"), col("period_offset"), col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_q"))
  }

  val retention: QueryDef = QueryDef.sql(
    "x_retention_cohorts", retentionSql(grain = "day", divDays = 1)) { (s, d) =>
    retentionDf(s, d, grain = "day", divDays = 1)
  }

  /** Weekly grain — coarser cohorts and offsets (date_trunc('week')
    * is ISO-Monday in both engines; offsets divide exactly since both
    * endpoints are week starts). Pins the grain as a real parameter.
    */
  val retentionW: QueryDef = QueryDef.sql(
    "x_retention_cohorts_w", retentionSql(grain = "week", divDays = 7)) { (s, d) =>
    retentionDf(s, d, grain = "week", divDays = 7)
  }

  /** Inter-arrival gap histogram: the distribution of time gaps
    * between consecutive events of one actor, in fixed decade buckets
    * (≤1 s, ≤10 s, … >10,000 s), per event type of the LATER event —
    * with the exact quantized share and CUMULATIVE share per type.
    * This is the audit that CALIBRATES the sessionizer: the
    * inactivity-gap parameter should sit in the valley between the
    * within-session decades and the between-session tail, and the
    * cumulative column reads that directly ("99% of real gaps are
    * ≤ 1,000 s ⇒ a 1,800 s cut is conservative"). The per-type split
    * shows whether any event class (e.g. error retries) has its own
    * arrival rhythm that a single global gap would mis-segment.
    *
    * Determinism: gaps are exact BIGINT microsecond differences
    * (`unix_micros` ↔ `epoch_us`); bucket edges are integer
    * comparisons; shares are 10⁶-quantized integer divisions. Ties on
    * ts are pinned by event_id, so "previous event" is a total order.
    *
    * Scale shape: one shuffle by the stream key (the sessionizer's
    * own partitioning), a lag over each key's ordered stream, then a
    * groupBy over ≤ |event types| × 6 bounded cells; both share
    * windows run on those cells only. At 100 TB the stream-key
    * shuffle is the whole cost — identical to sessionization itself.
    *
    * `byType` keys the stream per (user, event_type) instead of per
    * user: per-type inter-arrival rhythm (how often does a user
    * click?) vs stream-global gaps (how long since the user did
    * ANYTHING — the sessionizer's definition).
    */
  private def gapHistogramSql(byType: Boolean): String = {
    val key = if (byType) "user_id, event_type" else "user_id"
    s"""WITH g AS (
       |  SELECT event_type,
       |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |           PARTITION BY $key ORDER BY ts, event_id) AS gap_us
       |  FROM events),
       |b AS (
       |  SELECT event_type,
       |         CASE WHEN gap_us <= 1000000 THEN 0 WHEN gap_us <= 10000000 THEN 1
       |              WHEN gap_us <= 100000000 THEN 2 WHEN gap_us <= 1000000000 THEN 3
       |              WHEN gap_us <= 10000000000 THEN 4 ELSE 5 END AS bucket_id,
       |         CASE WHEN gap_us <= 1000000 THEN 'le_1s' WHEN gap_us <= 10000000 THEN 'le_10s'
       |              WHEN gap_us <= 100000000 THEN 'le_100s' WHEN gap_us <= 1000000000 THEN 'le_1000s'
       |              WHEN gap_us <= 10000000000 THEN 'le_10000s' ELSE 'gt_10000s' END AS bucket
       |  FROM g WHERE gap_us IS NOT NULL),
       |m AS (
       |  SELECT event_type, CAST(bucket_id AS BIGINT) AS bucket_id, bucket,
       |         CAST(count(*) AS BIGINT) AS n_gaps
       |  FROM b GROUP BY 1, 2, 3)
       |SELECT event_type, bucket_id, bucket, n_gaps,
       |       CAST(n_gaps * 1000000 // sum(n_gaps) OVER (PARTITION BY event_type) AS BIGINT) AS share_q,
       |       CAST(sum(n_gaps) OVER (PARTITION BY event_type ORDER BY bucket_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
       |            // sum(n_gaps) OVER (PARTITION BY event_type) AS BIGINT) AS cum_share_q
       |FROM m""".stripMargin
  }

  private[graft] def gapHistogramOf(events: DataFrame, byType: Boolean): DataFrame = {
    val key: Seq[String] = if (byType) Seq("user_id", "event_type") else Seq("user_id")
    val w = Window.partitionBy(key.map(col): _*).orderBy("ts", "event_id")
    val g = events
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .where(col("gap_us").isNotNull)
    val edges = Seq(
      1000000L -> "le_1s", 10000000L -> "le_10s", 100000000L -> "le_100s",
      1000000000L -> "le_1000s", 10000000000L -> "le_10000s")
    val bucketId = edges.zipWithIndex.foldRight(lit(5L)) { case (((e, _), i), rest) =>
      when(col("gap_us") <= e, i.toLong).otherwise(rest)
    }
    val bucketLbl = edges.foldRight(lit("gt_10000s"): org.apache.spark.sql.Column) {
      case ((e, l), rest) => when(col("gap_us") <= e, l).otherwise(rest)
    }
    // rows = |event types| × 6: bounded cells, see scaladoc
    val m = g.select(col("event_type"), bucketId.as("bucket_id"), bucketLbl.as("bucket"))
      .groupBy("event_type", "bucket_id", "bucket").agg(count(lit(1)).as("n_gaps"))
    val byTypeW = Window.partitionBy("event_type")
    val cumW = byTypeW.orderBy("bucket_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("tot", sum(col("n_gaps")).over(byTypeW))
      .withColumn("cum", sum(col("n_gaps")).over(cumW))
      .select(col("event_type"), col("bucket_id"), col("bucket"), col("n_gaps"),
        expr("n_gaps * 1000000 div tot").as("share_q"),
        expr("cum * 1000000 div tot").as("cum_share_q"))
  }

  val gapHistogram: QueryDef = QueryDef.sql(
    "x_gap_histogram", gapHistogramSql(byType = false)) { (s, d) =>
    gapHistogramOf(Tables.events(s, d), byType = false)
  }

  /** Per-(user, event_type) streams — each type's own arrival rhythm;
    * pins the stream key as a real parameter of the audit.
    */
  val gapHistogramByType: QueryDef = QueryDef.sql(
    "x_gap_histogram_bytype", gapHistogramSql(byType = true)) { (s, d) =>
    gapHistogramOf(Tables.events(s, d), byType = true)
  }

  /** The deterministic replay-storm funnel both alarm carriers share:
    * batches of 500 by event_id, an event "admitted" when it is the
    * global first occurrence of its (user_id, event_type) key — so the
    * admission rate decays from ≈0.7 at batch 0 to ≈0 as the simulated
    * index saturates.
    */
  private def replayStormStats(events: DataFrame): DataFrame = {
    val firstSeen = events
      .select(expr("event_id div 500").as("batch_id"),
        (row_number().over(
          Window.partitionBy("user_id", "event_type").orderBy("event_id")) === 1).as("adm"))
    firstSeen.groupBy("batch_id")
      .agg(count(lit(1)).as("n_in"), count(when(col("adm"), 1)).as("n_admitted"))
  }

  /** The matching oracle CTE pair (funnel → per-batch classification),
    * classified by the ingest's own alarm rule.
    */
  private val replayStormAlarmSql =
    s"""WITH f AS (
      |  SELECT event_id // 500 AS batch_id,
      |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1 AS adm
      |  FROM events),
      |s AS (
      |  SELECT batch_id, count(*) AS n_in,
      |         CAST(count(*) FILTER (adm) AS BIGINT) AS n_admitted
      |  FROM f GROUP BY batch_id),
      |a AS (
      |  SELECT batch_id, n_in, n_admitted,
      |         CAST(n_admitted AS DOUBLE) / nullif(n_in, 0) AS rate,
      |         ${NearDupIngest.alarmRuleSql(NearDupIngest.AlarmMinIn)} AS alarm
      |  FROM s)""".stripMargin

  /** The ingest-alarm classification ([[graft.streaming.NearDupIngest
    * .ingestAlarms]]) as an oracle-checked carrier: the replay-storm
    * funnel walks the classifier through both the null and the
    * `low_admission` states (the exact scenario the alarm pages on: a
    * re-crawl / replay storm). `full_admission` is pinned by the
    * NearDupIngestSpec unit fixtures — no natural batch here admits
    * 100%. Per-row arithmetic over |batches| rows; the funnel build
    * is one window + one groupBy over events (monitoring-cost).
    */
  val ingestAlarms: QueryDef = QueryDef.sql(
    "x_ingest_alarms",
    s"""$replayStormAlarmSql
       |SELECT batch_id, n_in, n_admitted, rate, alarm FROM a""".stripMargin) { (s, d) =>
    NearDupIngest.ingestAlarms(replayStormStats(Tables.events(s, d)))
  }

  /** The alarm MONITOR's materialized output, oracle-checked: the same
    * replay-storm funnel is written to a fixture store's `.stats`
    * directory, [[graft.streaming.NearDupIngest.startAlarmMonitor]]
    * tails it as a real Structured Streaming file source (classify →
    * flagged rows only → idempotent single-file-per-batch append to
    * `<store>.alarms`), and the query returns what
    * [[graft.streaming.NearDupIngest.alarmLog]] reads back from disk.
    * x_ingest_alarms pins the classification ARITHMETIC; this pins the
    * monitor's end-to-end materialization — source tailing, the
    * flagged-only filter, the append protocol, and the log reader —
    * against the same DuckDB twin (restricted to flagged rows).
    *
    * Scale shape: the monitored table is |batches| rows and the
    * monitor's state is the file-source seen-files log — monitoring-
    * cost, independent of corpus size. Each invocation uses a fresh
    * store under the per-JVM artifact root (removed at exit), so
    * replays (bench samples) never see stale alarms.
    */
  val alarmStore: QueryDef = QueryDef.sql(
    "x_alarm_store",
    s"""$replayStormAlarmSql
       |SELECT batch_id, n_in, n_admitted, rate, alarm FROM a
       |WHERE alarm IS NOT NULL""".stripMargin) { (s, d) =>
    val storeDir = graft.llm.SharedIndex.tempDir("graft_alarm_store").resolve("store").toString
    replayStormStats(Tables.events(s, d))
      .write.mode("overwrite").parquet(NearDupIngest.statsDir(storeDir))
    val q = NearDupIngest.startAlarmMonitor(s, storeDir)
    try q.processAllAvailable() finally q.stop()
    NearDupIngest.alarmLog(s, storeDir)
  }

  val all: Seq[QueryDef] =
    Seq(rollup, pivotCounts, quantiles, approxProfile, approxProfileSampled,
      asofJoin, asofNative,
      rangeJoin, intervalJoin, intervalJoinC60, sessionize, sessionizeG10,
      transitionMatrix, transitionMatrixG10, sessionFunnel, sessionFunnelS2,
      retention, retentionW, gapHistogram, gapHistogramByType, ingestAlarms,
      alarmStore)
}
