package graft

/** Local smoke runner mirroring the driver's t1 check: `entry` on
  * sf0.001 must return >0 rows. Optional arg = an explain target
  * query name to print its formatted physical plan.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SessionTuning.session(sfDir)
    if (args.isEmpty) {
      val n = SparkEntry.entry(spark).count()
      println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    } else {
      val q = args(0)
      if (sys.env.contains("EXPLAIN"))
        SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        println(f"[smoke] $q run$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
