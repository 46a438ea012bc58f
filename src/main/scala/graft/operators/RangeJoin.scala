package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded range join: pairs within `toleranceSec` of each other on an
  * equi-key — the interval/proximity join Spark has no built-in for.
  *
  * A naive `a.ts BETWEEN b.ts - tol AND b.ts + tol` theta-join plans
  * as a nested-loop product per key — quadratic in the hot keys. This
  * formulation quantizes time into bands of width `tol` and turns the
  * range predicate into an EQUI-join: the left side is exploded to
  * its band and both neighbors (any |Δts| ≤ tol pair differs by at
  * most one band), the right side keeps its single band, so every
  * qualifying pair meets on exactly one (key, band) — no duplicates,
  * no dedup pass — and the exact predicate then prunes the band-edge
  * false positives. Cost: one 3× fan-out on the probe side and a
  * shuffle on (key, band); per-band matching stays linear at any
  * scale, and band width tracks the tolerance, so selectivity inside
  * a band is bounded by the data's time density, not its total size.
  */
object RangeJoin {

  /** @param left   probe rows; column names must not collide with
    *               `right`'s except `key`
    * @param right  build rows
    * @param key    equi-join key present on both sides
    * @param lts    left timestamp column
    * @param rts    right timestamp column
    * @param toleranceSec  max |lts - rts| in seconds, inclusive
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
      lts: String, rts: String, toleranceSec: Long): DataFrame = {
    require(toleranceSec > 0, s"tolerance must be positive: $toleranceSec")
    // the banding working columns must be free on both inputs — a
    // silent withColumn overwrite would corrupt the join, not error.
    val clash = (left.columns ++ right.columns).filter(Set("__band", "__lband"))
    require(clash.isEmpty,
      s"rangeJoin: input columns collide with internal names: ${clash.distinct.mkString(", ")}")
    val tolUs = toleranceSec * 1000000L
    def band(ts: String) = IntervalJoin.bandOf(s"unix_micros($ts)", tolUs)
    val l = left.withColumn("__lband", band(lts))
      .withColumn("__band",
        explode(array(col("__lband") - 1, col("__lband"), col("__lband") + 1)))
      .drop("__lband")
    val r = right.withColumn("__band", band(rts))
    l.join(r, Seq(key, "__band"))
      .where(abs(unix_micros(col(rts)) - unix_micros(col(lts))) <= tolUs)
      .drop("__band")
  }
}
