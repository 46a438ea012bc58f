package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's five HTTP entry points (HttpTrigger1..5/__init__.py,
  * callable.py:118-156) as composed export jobs: a user of the
  * reference triggers one of these and gets its report set; a user of
  * this engine calls the matching method. Each returns the named
  * report DataFrames ready for the sink of choice
  * (`.coalesce(1).write` reproduces the one-workbook contract, K1).
  */
object Triggers {

  /** HttpTrigger1 → final(): Quotation + Organisation exports
    * (callable.py:118-124).
    */
  def trigger1(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "Quotation_Report"    -> ReportPipelines.quoteExport.run(s, dir),
    "Organisation_Report" -> ReportPipelines.orgExport.run(s, dir))

  /** HttpTrigger2 → final2(): the Opportunity export
    * (callable.py:127-131).
    */
  def trigger2(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "Opportunity_Report" -> ReportPipelines.opportunityExport.run(s, dir))

  /** HttpTrigger3 → final3(): Equipment, Invoice-history and Users
    * exports, sequentially in the reference (callable.py:133-144) —
    * here independent DataFrames a scheduler can run in parallel.
    */
  def trigger3(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "Equipment_Report" -> EntityPipelines.equipmentExport.run(s, dir),
    "Invoice_Report"   -> EntityPipelines.invoiceExport.run(s, dir),
    "Users_Report"     -> ReportPipelines.usersExport.run(s, dir))

  /** HttpTrigger4 → final4(): the Task export (callable.py:149-151). */
  def trigger4(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "Task_Report" -> EntityPipelines.taskExport.run(s, dir))

  /** HttpTrigger5 → final5(): the mailed-report ingest
    * (callable.py:153-156).
    */
  def trigger5(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "Opportunity_Stage_Report" -> EntityPipelines.stageReport.run(s, dir))
}
