package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operator library — the Spark-first re-expression
  * of SURVEY.md §2's inventory (G1–G3 generators, A1–A5 aggregates,
  * S4 semi-join prefetch, J-family broadcast joins, D1 dedup).
  *
  * Scale notes per operator are inline; the common theme: keep
  * everything declarative so Catalyst prunes columns into the scan,
  * keep dims broadcast (no shuffle of the fact side), and do array
  * work with higher-order functions (per-row, narrow, no shuffle).
  */
object Relational {

  // ---------------------------------------------------------------- G3
  /** EAV pivot (quote.py:202): `array<struct<FIELD_NAME,FIELD_VALUE>>`
    * → map. Narrow per-row op; column pruning still reaches the scan
    * because `map_from_entries` is a deterministic expression.
    */
  def pivotEav(eav: Column): Column = map_from_entries(eav)

  /** The CUSTOMFIELDS record [[pivotEav]] reads: one
    * `struct<FIELD_NAME, FIELD_VALUE>` entry per `name -> value` pair.
    */
  def customFields(fields: (String, Column)*): Column =
    array(fields.map { case (k, v) => struct(lit(k).as("FIELD_NAME"), v.as("FIELD_VALUE")) }: _*)

  /** Custom-field extraction with the reference's `dict.get(k, "")`
    * default (quote.py:211-213). `try_element_at` keeps ANSI mode from
    * erroring on absent keys.
    */
  def eavGet(m: Column, key: String): Column =
    coalesce(try_element_at(m, lit(key)), lit(""))

  // ---------------------------------------------------------------- A1
  /** Conditional count over an array of typed links
    * (organisation.py:124) — `size(filter(...))`, no shuffle at all.
    */
  def countLinksOfType(links: Column, tpe: String): Column = {
    val n = size(filter(links, l => l.getField("LINK_OBJECT_NAME") === tpe))
    when(links.isNull, 0).otherwise(greatest(n, lit(0)))
  }

  // ---------------------------------------------------------------- G2
  /** Last-wins link routing (task.py:223-246): the reference's Python
    * loop overwrites per-type slots, so with two links of one type the
    * LAST in array order wins. `try_element_at(filter, -1)` preserves
    * exactly that; null-safe for tasks with no link of the type.
    */
  def lastLinkOfType(links: Column, tpe: String): Column =
    try_element_at(
      filter(links, l => l.getField("LINK_OBJECT_NAME") === tpe), lit(-1)
    ).getField("LINK_OBJECT_ID")

  // ---------------------------------------------------------------- A4
  /** Falsy-skipping string aggregation with separator
    * (opportunity.py:196: `" and ".join(names)` skipping empties).
    * Input is an already-collected array column; sort first so the
    * result is deterministic under Spark's unordered collect_list.
    */
  def joinNonEmptySorted(arr: Column, sep: String): Column =
    array_join(array_sort(filter(arr, x => x.isNotNull && x =!= "")), sep)

  // ---------------------------------------------------------------- S4
  /** Semi-join prefetch (task.py:79-104): restrict a dimension to the
    * fact's key set before joining. On a cluster this is what keeps the
    * broadcast build side small when the dim is huge but the fact only
    * references a sliver of it.
    */
  def semiFilteredDim(dim: DataFrame, dimKey: String, factKeys: DataFrame): DataFrame =
    dim.join(factKeys, dim(dimKey) === factKeys(factKeys.columns.head), "left_semi")

  // ---------------------------------------------------------------- J*
  /** Role-playing broadcast left join (J4/J12): join the same dim under
    * a role prefix. Broadcast hint ⇒ no shuffle of the fact side, and
    * N roles cost N map-side probes of the same small hash relation.
    */
  def rolePlayingJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: String,
      rolePrefix: String,
      payload: Seq[(String, String)]): DataFrame = {
    val sel = dim(dimKey).as(s"__${rolePrefix}_key") +:
      payload.map { case (src, out) => dim(src).as(s"${rolePrefix}_$out") }
    val d = dim.select(sel: _*)
    fact.join(broadcast(d), factKey === d(s"__${rolePrefix}_key"), "left")
      .drop(s"__${rolePrefix}_key")
  }

  // ---------------------------------------------------------------- D1
  /** Whole-row dedup at the reference's post-projection position
    * (opportunity.py:257-258). At scale this is one hash-aggregate
    * shuffle on the (already narrow) report columns.
    */
  def dedup(df: DataFrame): DataFrame = df.dropDuplicates()

  // ---------------------------------------------------------------- S5
  /** S5's lookback (opportunity_stage.py:131-173): the events within
    * 15 days of the newest `ts`, anchored at max ts for determinism —
    * one broadcast max, crossJoined back.
    */
  def lookback(events: DataFrame): DataFrame = {
    val maxTs = events.agg(max(col("ts")).as("max_ts"))
    events.crossJoin(broadcast(maxTs))
      .where(col("ts") >= col("max_ts") - expr("INTERVAL 15 DAYS"))
      .drop("max_ts")
  }

  /** DuckDB predicate twin of [[lookback]] over `events`. */
  val lookbackSql = "ts >= (SELECT max(ts) - INTERVAL 15 DAY FROM events)"

  // ------------------------------------------------------------- skew
  /** Salted equi-join for skewed fact keys: the dim side is replicated
    * `buckets` times (one copy per salt value), the fact side gets a
    * deterministic salt from a secondary column, and the join key
    * becomes (key, salt) — a hot key's rows spread over `buckets`
    * reducers instead of one. Result is exactly the plain join
    * (dim replicated × fact salted-once ⇒ one match per original
    * match). AQE's skew-join handles moderate skew automatically; this
    * is the explicit tool for the pathological keys AQE can't split
    * (e.g. a single null-ish default key owning 10% of a 100 TB
    * fact).
    */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      saltSource: Column, buckets: Int, joinType: String = "left"): DataFrame = {
    // only fact-preserving joins are equivalent under dim replication
    // (an unmatched dim row would otherwise be emitted `buckets` times)
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    // null saltSource must still land in a bucket, or the row would
    // match no dim copy and silently diverge from the plain join
    val salt = pmod(coalesce(saltSource.cast("long"), lit(0L)), lit(buckets))
    val salted = fact.withColumn("__salt", salt)
    val replicated = dim.withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated,
        salted(factKey) === replicated(dimKey) && salted("__salt") === replicated("__salt"),
        joinType)
      .drop("__salt")
  }

  // ------------------------------------------------------------- rank
  /** Global 1-based rank of `values` by column `key`: a two-phase
    * distributed rank, never a no-partition window (which funnels
    * every row through one task). Range-partition, rank within each
    * ordered partition in parallel, then add per-partition offsets;
    * the offsets table has one row per partition (bounded by cluster
    * config, not data), so it broadcasts. The rank is always the
    * global sorted rank, whatever the partition boundaries.
    *
    * @return (ranked: (`key`, `rankCol`); counts: (pid, cnt), one row
    *         per partition, so totals come from a tiny frame)
    */
  def rangeRank(values: DataFrame, key: String, rankCol: String): (DataFrame, DataFrame) = {
    // Range partitions are ordered by pid (AQE coalescing merges only
    // contiguous ones). The lazy localCheckpoint pins one pid
    // assignment for the fan-out below: unpinned, the branches agree
    // only while exchange reuse dedupes the identical range shuffle,
    // and re-sampled boundaries would silently skew ranks. Lazy keeps
    // plan-only paths free; unlike .cache(), the blocks have no
    // CacheManager entry and the ContextCleaner releases them once
    // unreferenced, so a rank does not pin storage for the session.
    val parted = values.repartitionByRange(col(key))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)
    // Windowless local rank: Window.partitionBy("pid") would force a
    // hashpartitioning(pid) exchange + sort although the rows already
    // sit in exactly those partitions (range partitioning cannot
    // satisfy a hash distribution). After sortWithinPartitions,
    // monotonically_increasing_id's low 33 bits are the 0-based
    // in-partition ordinal: identical lr, one exchange + sort fewer.
    val local = parted.sortWithinPartitions(key)
      .withColumn("lr",
        (monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1L).as("lr"))
    val (withOff, counts) = withPartitionOffsets(local, "lr")
    (withOff.select(col(key), (col("off") + col("lr")).as(rankCol)), counts)
  }

  /** The token-budget shard packer: the two-phase distributed prefix
    * sum over `tokenCol` in `orderCols` order (document-level packing
    * in x_token_pack, chunk-level packing in x_pipeline_e2e). Adds
    * `cum_tokens` = the inclusive running sum and `shard_id` = the
    * exclusive running sum div `budget`, and keeps the input columns.
    * Same shape as [[rangeRank]]: range-partition, run locally per
    * partition, add the broadcast per-partition offsets.
    *
    * The lazy localCheckpoint pins one pid assignment, for the same
    * reason as in [[rangeRank]] (regression-pinned with exchange reuse
    * off in CurationSpec). The local step keeps its window: the
    * running sum needs the rows in order and a window per partition.
    */
  def packCumSum(df: DataFrame, orderCols: Seq[String], tokenCol: String,
      budget: Long): DataFrame = {
    val parted = df.repartitionByRange(orderCols.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val local = parted.withColumn("run",
      sum(tokenCol).over(Window.partitionBy("pid").orderBy(orderCols.map(col): _*)))
    withPartitionOffsets(local, "run")._1
      .withColumn("cum_tokens", col("off") + col("run"))
      .withColumn("shard_id", expr(s"(cum_tokens - $tokenCol) div $budget"))
      .drop("pid", "run", "off")
  }

  /** [[packCumSum]]'s columns in DuckDB SQL: `cum_tokens` as the
    * single-window running sum the distributed one must equal, and the
    * `shard_id` expression over it.
    */
  def packCumSumSql(orderCols: Seq[String], tokenCol: String): String =
    s"""CAST(sum($tokenCol) OVER (ORDER BY ${orderCols.mkString(", ")}
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens""".stripMargin

  def shardIdSql(tokenCol: String, budget: Long): String =
    s"(cum_tokens - $tokenCol) // $budget AS shard_id"

  /** The offsets step of both range scans: per-partition totals
    * `(pid, cnt = max(run))` and `local` joined to the broadcast
    * offset `off` = Σ cnt over pid < p — one running-sum window over
    * the one-row-per-partition counts, a constant-size single task (a
    * triangular self-join cost three extra codegen units and a
    * broadcast job for the same arithmetic).
    *
    * @return (local with `off`; counts)
    */
  private def withPartitionOffsets(local: DataFrame, run: String): (DataFrame, DataFrame) = {
    val counts = local.groupBy("pid").agg(max(run).as("cnt"))
    val offsets = counts.withColumn("off",
      coalesce(sum("cnt").over(Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "off")
    (local.join(broadcast(offsets), "pid"), counts)
  }
}
