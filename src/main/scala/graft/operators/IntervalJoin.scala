package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded interval-overlap join: pairs of intervals on an equi-key
  * that OVERLAP (inclusive ends) — the two-sided generalization of
  * [[RangeJoin]] (where only points pair) and the temporal/interval
  * join Spark has no built-in for.
  *
  * A naive `aStart <= bEnd AND bStart <= aEnd` theta-join plans as a
  * nested loop per key. This formulation quantizes time into bands of
  * width `bandSec` and explodes EACH side over the bands its interval
  * covers: any overlapping pair shares the band of any common point,
  * so every qualifying pair meets on at least one (key, band) of an
  * EQUI-join; the exact predicate prunes band-edge false positives
  * and a final distinct collapses pairs that met on several bands
  * (an interval of length ≤ bandSec covers ≤ 2 bands, so the fan-out
  * and the duplicate factor are both ≤ 2 per side). Band width is the
  * perf knob: set it to the maximum interval length, so fan-out stays
  * constant — longer intervals still join CORRECTLY (`sequence`
  * covers all their bands), they just fan out more.
  *
  * Bounds are integer micros columns (exact arithmetic end to end; no
  * double rounding can misplace a boundary) supplied by the caller.
  */
object IntervalJoin {

  /** The band of a micros expression `us` at band width `widthUs`:
    * exact integer floor division (pmod keeps it correct for negative
    * epochs), where a float `floor(us / w)` could misplace an exactly-
    * on-boundary instant by one band via double rounding.
    */
  private[operators] def bandOf(us: String, widthUs: Long): Column =
    expr(s"($us - pmod($us, ${widthUs}L)) div ${widthUs}L")

  /** Interval-overlap join for inputs with a UNIQUE id per row per
    * side. Pair DISCOVERY runs on narrow (key, id, bounds) projections,
    * the multi-band dedup exchanges only (key, lId, rId), and payloads
    * re-attach afterwards by id equi-joins — at 100 TB with wide
    * carried rows, the dedup shuffle stays three columns wide, and the
    * payload re-joins are plain key-partitioned equi-joins AQE handles.
    *
    * Inverted intervals (end < start) are ACCEPTED, not an error: the
    * band explosion covers [bandOf(start)..bandOf(end)] via `sequence`,
    * which steps −1 when end < start — the same band SET as the
    * ascending range over [min, max] — and a pair passing the exact
    * predicate always shares a point inside both sides' [min, max]
    * spans, hence a band. Results therefore match the naive theta-join
    * for any bound ordering by construction (pinned by PropertySpec's
    * interval-join property, whose generator includes negative
    * lengths), though the predicate's meaning for inverted bounds is
    * the naive join's, not "overlap".
    *
    * @param left     one interval per row; bounds in micros columns
    * @param right    one interval per row; column names must not
    *                 collide with `left`'s except `key`
    * @param key      equi-join key present on both sides
    * @param lId/rId  unique per input row on their side (violations
    *                 make the id dedup collapse genuinely distinct
    *                 pairs; the naive theta-join's bag semantics need
    *                 the ids to tell duplicate rows apart)
    * @param lStartUs/lEndUs/rStartUs/rEndUs  inclusive bounds (µs, long)
    * @param bandSec  band width — set to the max expected interval
    *                 length so each side covers ≤ 2 bands
    */
  def intervalJoinById(left: DataFrame, right: DataFrame, key: String,
      lId: String, rId: String,
      lStartUs: String, lEndUs: String, rStartUs: String, rEndUs: String,
      bandSec: Long): DataFrame = {
    require(bandSec > 0, s"band width must be positive: $bandSec")
    val clash = (left.columns ++ right.columns).filter(_ == "__band")
    require(clash.isEmpty, "intervalJoinById: input columns collide with internal __band")
    val w = bandSec * 1000000L
    def explodeBands(s: String, e: String) = explode(sequence(bandOf(s, w), bandOf(e, w)))
    val l = left.select(col(key), col(lId), col(lStartUs), col(lEndUs))
      .withColumn("__band", explodeBands(lStartUs, lEndUs))
    val r = right.select(col(key), col(rId), col(rStartUs), col(rEndUs))
      .withColumn("__band", explodeBands(rStartUs, rEndUs))
    val pairIds = l.join(r, Seq(key, "__band"))
      .where(col(lStartUs) <= col(rEndUs) && col(rStartUs) <= col(lEndUs))
      .select(col(key), col(lId), col(rId))
      .distinct() // narrow exchange: 3 columns, whatever the payload width
    pairIds.join(left, Seq(key, lId)).join(right, Seq(key, rId))
  }
}
