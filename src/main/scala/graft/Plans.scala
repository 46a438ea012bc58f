package graft

import java.nio.file.{Files, Paths}

/** Plan-audit utility: dumps the formatted physical plan of every
  * registered query to one file for pushdown/broadcast/shuffle review.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = SessionTuning.session(sfDir)
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"===== $name =====\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      sb.append("\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
