package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.{QueryDef, SessionTuning, Tables}
import graft.llm
import graft.operators.Compaction
import graft.pipelines.{EntityPipelines, ReportPipelines, Triggers}
import graft.sources.PageFaults
import graft.streaming.{Created, NearDupIngest, Replaced, UpsertSink}

/** One timed operation of a workload: a trigger fire, a curation line
  * or an ingest batch, with its wall time, the CPU time the whole
  * process spent meanwhile (every Spark task thread, GC and JIT) and
  * the mean of the core-speed probes taken just before and after it. `ok`
  * is false when the call threw or an
  * in-process check failed; output checks that need DuckDB run after
  * the process exits and can fail an op later.
  */
final case class Op(kind: String, name: String, seconds: Double, cpuSeconds: Double,
    probe: Double, ok: Boolean, error: String = "", extra: Map[String, Any] = Map.empty)

/** The benchmark's JVM side. It builds the session, runs one pass of
  * a workload with one closed-loop client, and writes a JSON record of raw
  * timings, check inputs and (when tracing) spans for `run.py` to
  * reduce. Everything it times is one call into an engine module: a
  * trigger, a registry query, the paged source, the upsert sink, a
  * shared-artifact build or the ingest and compaction entry points.
  * The artifact builds and the index bootstrap are package-private, so
  * the harness lives in a subpackage of `graft`.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seed N
  *                --seconds S --trace 0|1 --out FILE
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = Paths.get(opt("data")).toAbsolutePath.toString
    val work = Paths.get(opt("work")).toAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracer = new Tracer(f"${workload}_s$seed%d_${System.currentTimeMillis()}%d",
      opt("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()

    // the cold start a fresh function host pays: session build with the
    // engine's tuning, then a first job and a first table read
    val p0 = Probe.run()
    val c0 = processCpuNs
    val a = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", SessionTuning.shufflePartitions(cores, data))
      .config(Tables.NanosAsLongKey, "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.region(spark, data).count()
    val c = System.nanoTime()
    val setup = Map("start_s" -> (b - a) / 1e9, "warmup_s" -> (c - b) / 1e9,
      "cpu_s" -> (processCpuNs - c0) / 1e9, "probe_s" -> (p0 + Probe.run()) / 2)
    tracer.attach(spark.sparkContext)

    val w: Workload = workload match {
      case "crm_triggers"   => new CrmTriggers(spark, data, work, seed, tracer)
      case "curation_power" => new CurationPower(spark, data, work, seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    Probe.run() // the first op's probe before it
    val begin = System.nanoTime()
    w.run()
    val measured = (System.nanoTime() - begin) / 1e9
    val checks = w.check()
    val rss = peakRssMb()
    val spans = tracer.toJson(t0)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "run_id" -> tracer.runId, "setup" -> setup, "measured_s" -> measured,
      "probe_s" -> Probe.all,
      "rss_peak_mb" -> rss, "summary" -> w.summary, "writes" -> w.writes,
      "ops" -> w.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "seconds" -> o.seconds,
        "cpu_s" -> o.cpuSeconds, "probe_s" -> o.probe, "ok" -> o.ok, "error" -> o.error) ++ o.extra),
      "checks" -> checks,
      "trace" -> tracer.enabled,
      "trace_overhead_s" -> tracer.overheadNs.get / 1e9,
      "spans" -> Json.Raw(spans.mkString("[", ",", "]")))
    Files.writeString(Paths.get(opt("out")), record)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  /** The body's result, wall seconds and process CPU seconds. */
  def timed[A](body: => A): (A, Double, Double) = {
    val c0 = processCpuNs
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9, (processCpuNs - c0) / 1e9)
  }

  /** One op of the pass: `timed`, then a core-speed probe outside the
    * timed interval; the op's probe is the mean of the one before it
    * (the previous op's, or the pass's first) and this one.
    */
  def op[A](body: => A): (A, Double, Double, Double) = {
    val before = Probe.all.last
    val (a, secs, cpu) = timed(body)
    (a, secs, cpu, (before + Probe.run()) / 2)
  }

  def errorOf(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

trait Workload {
  val ops = ArrayBuffer.empty[Op]
  /** Wall and CPU seconds of each write-path operation: a report's
    * render and publish, or an ingest batch.
    */
  val writes = ArrayBuffer.empty[Map[String, Any]]
  /** Untimed input preparation (writes the harness's own inputs). */
  def prepare(): Unit = ()
  /** The measured pass. */
  def run(): Unit
  /** Untimed post-run checks and check inputs for run.py. */
  def check(): Map[String, Any]
  def summary: Map[String, Any]
}

/** The paper's five HTTP-triggered exports, fired in turn by one
  * client. Each fire pages every report's entity through the paged
  * REST source (500 rows a page, retries on, every `FaultEvery`th
  * request failing), runs the trigger's transforms, renders each
  * report to one file and publishes it through the upsert sink.
  */
final class CrmTriggers(spark: SparkSession, data: String, work: Path, seed: Long,
    tr: Tracer) extends Workload {
  import Harness._

  val PageSize = 500
  val FaultEvery = 25
  val Domain = s"perfbench-${tr.runId}"
  /** Triggers whose reports an earlier refresh already published, so
    * the upsert takes its Replaced leg for them and Created for the rest.
    */
  val Refreshed = Set(1, 3, 5)

  /** Trigger → (report name, registry query, REST entity, entity table). */
  val triggers: Seq[(Int, SparkSession => Map[String, DataFrame], Seq[(String, QueryDef, String, String)])] = Seq(
    (1, Triggers.trigger1(_, data), Seq(
      ("Quotation_Report", ReportPipelines.quoteExport, "quotation", "orders"),
      ("Organisation_Report", ReportPipelines.orgExport, "organisation", "customer"))),
    (2, Triggers.trigger2(_, data), Seq(
      ("Opportunity_Report", ReportPipelines.opportunityExport, "opportunity", "orders"))),
    (3, Triggers.trigger3(_, data), Seq(
      ("Equipment_Report", EntityPipelines.equipmentExport, "equipment", "part"),
      ("Invoice_Report", EntityPipelines.invoiceExport, "invoice", "lineitem"),
      ("Users_Report", ReportPipelines.usersExport, "user", "supplier"))),
    (4, Triggers.trigger4(_, data), Seq(
      ("Task_Report", EntityPipelines.taskExport, "task", "lineitem"))),
    (5, Triggers.trigger5(_, data), Seq(
      ("Opportunity_Stage_Report", EntityPipelines.stageReport, "stage", "events"))))

  val folder = work.resolve("published")
  val scratch = work.resolve("render")
  var rowCounts = Map.empty[String, Long]
  var pages = 0L
  var legs = 0L
  var offset = 0L
  var publishedBytes = 0L
  var created = 0
  var replaced = 0
  var rowsOut = 0L

  override def prepare(): Unit = {
    Files.createDirectories(folder)
    Files.createDirectories(scratch)
    for ((k, _, reports) <- triggers if Refreshed(k); (name, _, _, _) <- reports)
      Files.writeString(folder.resolve(s"$name.parquet"), "an earlier refresh")
    rowCounts = triggers.flatMap(_._3.map(_._4)).distinct
      .map(t => t -> Tables.table(spark, data, t).count()).toMap
    // the seed sets the fault phase: which requests of the run fail
    PageFaults.reset(Domain)
    offset = seed % FaultEvery
    (0L until offset).foreach(_ => PageFaults.nextRequestNumber(Domain))
  }

  /** The source leg: page the entity's row count and check the scan. */
  def sourceLeg(entity: String, rows: Long): Unit = tr.span("sources", s"scan:$entity") {
    val r = spark.read.format("graft.sources.PagedRestSource")
      .option("entity", entity).option("totalRows", rows).option("pageSize", PageSize)
      .option("maxRetries", 5).option("retryBaseDelayMs", 10)
      .option("failEveryNthRequest", FaultEvery).option("faultDomain", Domain)
      .load().agg(count(lit(1)), sum("id")).head()
    pages += (rows + PageSize - 1) / PageSize
    legs += 1
    require(r.getLong(0) == rows && r.getLong(1) == rows * (rows - 1) / 2,
      s"paged scan of $entity returned ${r.getLong(0)} rows, expected $rows")
  }

  /** Render one report the engine's way, `df.coalesce(1).write` into a
    * scratch directory (the single-file render of
    * `StreamingIngest.startUpsertReportSink`), which executes the
    * trigger's plan, then publish that part file through the upsert sink.
    */
  def publish(trigger: Int, name: String, df: DataFrame): Unit = {
    val file = s"$name.parquet"
    val dir = scratch.resolve(name)
    val (outcome, secs, cpu) = timed {
      val part = tr.span("pipelines", s"render:$name") {
        df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
        Files.list(dir).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-")).get
      }
      tr.span("upsert", s"publish:$name") {
        UpsertSink.upsert(folder, file, { tmp =>
          Files.copy(part, tmp, StandardCopyOption.REPLACE_EXISTING)
          ()
        })
      }
    }
    writes += Map("seconds" -> secs, "cpu_s" -> cpu)
    publishedBytes += Files.size(folder.resolve(file))
    outcome match {
      case Created => created += 1
      case Replaced => replaced += 1
    }
    require((outcome == Replaced) == Refreshed(trigger), s"$name took the $outcome leg")
  }

  /** One cycle: each trigger fired once, in turn, by one client. The
    * cycle is fixed work, so its timings and per-layer counts compare
    * across runs and hosts.
    */
  override def run(): Unit =
    triggers.foreach { case (k, fire, reports) =>
      val w0 = writes.size
      val (result, secs, cpu, probe) = op {
        try {
          tr.span("pipelines", s"trigger$k") {
            reports.foreach { case (_, _, entity, table) => sourceLeg(entity, rowCounts(table)) }
            val dfs = fire(spark)
            reports.foreach { case (name, _, _, _) => publish(k, name, dfs(name)) }
          }
          None
        } catch { case e: Throwable => Some(errorOf(e)) }
      }
      ops += Op("trigger", s"trigger$k", secs, cpu, probe, result.isEmpty, result.getOrElse(""))
      // a report's render and publish ran inside this op: same probe
      (w0 until writes.size).foreach(i => writes(i) += "probe_s" -> probe)
    }

  /** Untimed: the rows published, read back from the files. */
  override def check(): Map[String, Any] = {
    rowsOut = triggers.flatMap(_._3).map { case (name, _, _, _) =>
      spark.read.parquet(folder.resolve(s"$name.parquet").toString).count()
    }.sum
    checkInputs
  }

  def checkInputs: Map[String, Any] = Map(
    "folder" -> folder.toString,
    "reports" -> triggers.flatMap { case (k, _, reports) =>
      reports.map { case (name, q, _, _) =>
        Map("trigger" -> s"trigger$k", "report" -> name, "query" -> q.name,
          "path" -> folder.resolve(s"$name.parquet").toString, "oracle" -> q.oracle)
      }
    })

  override def summary: Map[String, Any] = Map(
    "page_size" -> PageSize, "fault_every" -> FaultEvery, "fault_offset" -> offset,
    "pages" -> pages, "legs" -> legs,
    // every request the synthetic server saw; the next number is one past it
    "requests" -> (PageFaults.nextRequestNumber(Domain) - 1 - offset),
    "created" -> created, "replaced" -> replaced, "published_bytes" -> publishedBytes,
    "rows_out" -> rowsOut, "entity_rows" -> rowCounts)
}

/** The curation tier as a power run in a fresh process: cold, in the
  * bench's order, the six shared-artifact builds that the chosen lines
  * read (the bench's other four are variants no line here reads); one
  * registry line from every query family, each result written out for
  * the oracle check; then the write path, near-duplicate ingest batches
  * into a store seeded from the corpus and a compaction.
  */
final class CurationPower(spark: SparkSession, data: String, work: Path, seed: Long,
    tr: Tracer) extends Workload {
  import Harness._

  val builds: Seq[(String, () => Long)] = Seq(
    "index_build" -> (() => llm.SharedIndex.sidPostings(spark, data).count()),
    "pairs_build" -> (() => llm.DedupQueries.rareOverlaps(spark, data).count()),
    "cc_build" -> (() => llm.DedupQueries.ccLabels(spark, data).count()),
    "knn_build_b4" -> (() => llm.SimilarityQueries.knnEdgesDf(spark, data, 4, 8, 5).count()),
    "bpe_build" -> (() => llm.TextQueries.bpeBuildDf(spark, data).count()),
    "tok_build" -> (() => llm.TextQueries.tokFrame(spark, data).count()))

  /** (layer, family, registry, line): one line a family, reading an
    * artifact built above where the family has one.
    */
  val families: Seq[(String, String, Seq[QueryDef], String)] = Seq(
    ("llm", "dedup", llm.DedupQueries.all, "x_dedup_corpus"),
    ("llm", "similarity", llm.SimilarityQueries.all, "x_knn_graph"),
    ("llm", "text", llm.TextQueries.all, "x_bpe_encode"),
    ("llm", "curation", llm.CurationQueries.all, "x_pipeline_e2e"),
    ("llm", "multimodal", llm.MultimodalQueries.all, "x_av_align"),
    ("pipelines", "analytics", graft.pipelines.AnalyticsQueries.all, "x_asof_native"),
    ("pipelines", "profile", graft.pipelines.ProfileQueries.all, "x_profile_stats"))

  val out = work.resolve("lines")
  var buildRows = Map.empty[String, Long]
  val lines: Seq[(String, String, QueryDef)] = families.map { case (layer, fam, all, n) =>
    val q = all.find(_.name == n).getOrElse(sys.error(s"$n is not in the $fam family"))
    require(q.oracle.isDefined, s"$n has no oracle")
    (layer, fam, q)
  }
  val ingest = new IngestPhase(spark, data, work, seed, tr, ops, writes)

  override def prepare(): Unit = ingest.prepare()

  override def run(): Unit = {
    builds.foreach { case (name, build) =>
      val (result, secs, cpu, probe) = op {
        try Right(tr.span("llm", s"build:$name", "build")(build()))
        catch { case e: Throwable => Left(errorOf(e)) }
      }
      result.foreach(rows => buildRows += name -> rows)
      ops += Op("build", name, secs, cpu, probe, result.isRight, result.left.getOrElse(""))
    }
    lines.foreach { case (layer, fam, q) =>
      val (result, secs, cpu, probe) = op {
        try {
          tr.span(layer, q.name, fam) {
            q.run(spark, data).write.mode("overwrite").parquet(out.resolve(q.name).toString)
          }
          None
        } catch { case e: Throwable => Some(errorOf(e)) }
      }
      ops += Op("line", q.name, secs, cpu, probe, result.isEmpty, result.getOrElse(""),
        Map("layer" -> layer, "family" -> fam))
    }
    ingest.run()
  }

  override def check(): Map[String, Any] = Map(
    "lines" -> lines.map { case (_, _, q) =>
      Map("query" -> q.name, "path" -> out.resolve(q.name).toString, "oracle" -> q.oracle)
    }) ++ ingest.check()

  override def summary: Map[String, Any] = Map("build_rows" -> buildRows) ++ ingest.summary
}

/** The write path: generated micro-batches of novel, exact-repeat and
  * near-duplicate documents ingested one after another into a store
  * seeded from the corpus and already indexed, then the store and its
  * indexes compacted. Shares and contents are drawn from the workload
  * seed; the engine sees only the batches.
  */
final class IngestPhase(spark: SparkSession, data: String, work: Path, seed: Long,
    tr: Tracer, ops: ArrayBuffer[Op], writes: ArrayBuffer[Map[String, Any]]) {
  import Harness._
  import spark.implicits._

  val BatchSize = 40
  val Batches = 3

  val rng = new java.util.Random(seed)
  val novelShare = 0.55 + 0.1 * rng.nextDouble()
  val exactShare = (1 - novelShare) * (0.45 + 0.1 * rng.nextDouble())
  val store = work.resolve("ingest").resolve("store").toString
  /** The corpus's own words, in a fixed order; novel docs draw from it. */
  var vocab = Array.empty[String]

  /** Texts committed to the store before the batch being generated. */
  val committed = ArrayBuffer.empty[String]
  /** Per generated doc: (batch, doc_id, kind). */
  val kinds = ArrayBuffer.empty[(Int, Long, String)]
  var storeBytesBefore = 0L
  var admittedTextBytes = 0L
  var docsIn = 0L
  var docsAdmitted = 0L
  var compactFiles = 0L
  var compactBytes = 0L

  def storeDirs: Seq[Path] = {
    val p = Paths.get(store)
    Files.list(p.getParent).iterator().asScala
      .filter(d => d.getFileName.toString.startsWith(p.getFileName.toString)).toSeq.sorted
  }

  /** Live parquet files of the store and every index leaf directory. */
  def liveFiles(): Seq[Path] = storeDirs.flatMap { d =>
    val leaves = Files.list(d).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    (if (leaves.isEmpty) Seq(d) else leaves).flatMap(l => Compaction.livePaths(l.toString))
  }.map(Paths.get(_))

  def randomText(words: Int): String =
    Seq.fill(words)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  def batch(b: Int): Seq[(Long, String)] = (0 until BatchSize).map { i =>
    val id = 1000000L + b * 1000L + i
    val u = rng.nextDouble()
    val (kind, text) =
      if (u < novelShare) ("novel", randomText(40 + rng.nextInt(40)))
      else if (u < novelShare + exactShare) ("exact", committed(rng.nextInt(committed.size)))
      else {
        val src = committed(rng.nextInt(committed.size)).split(" ")
        src(rng.nextInt(src.length)) = vocab(rng.nextInt(vocab.length))
        ("near", src.mkString(" "))
      }
    kinds += ((b, id, kind))
    (id, text)
  }

  def prepare(): Unit = {
    val docs = Tables.documents(spark, data).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(store)
    committed ++= docs.as[(Long, String)].collect().map(_._2)
    vocab = committed.flatMap(_.split(" ")).distinct.sorted.toArray
    // the store's near-dup index exists before batches arrive
    NearDupIngest.ensureDocIdx(spark, store, 3)
    ()
  }

  def run(): Unit = {
    storeBytesBefore = storeDirs.map(dirBytes).sum
    (0 until Batches).foreach { b =>
      val docs = batch(b)
      val df = docs.toDF("doc_id", "text")
      val (result, secs, cpu, probe) = op {
        try Right(tr.span("streaming", s"ingest_batch:$b")(NearDupIngest.ingestBatch(spark, df, store, b)))
        catch { case e: Throwable => Left(errorOf(e)) }
      }
      val admitted = result.getOrElse(0L)
      docsIn += docs.size
      docsAdmitted += admitted
      // novel docs are admitted by contract (checked after the run),
      // so later batches may repeat them
      docs.zip(kinds.takeRight(docs.size)).foreach { case ((_, text), (_, _, kind)) =>
        if (kind == "novel") { committed += text; admittedTextBytes += text.getBytes("UTF-8").length }
      }
      ops += Op("batch", s"ingest_batch:$b", secs, cpu, probe, result.isRight,
        result.left.getOrElse(""), Map("docs_in" -> docs.size, "admitted" -> admitted))
      writes += Map("seconds" -> secs, "cpu_s" -> cpu, "probe_s" -> probe)
    }
    val before = liveFiles()
    val (result, secs, cpu, probe) = op {
      try Right(tr.span("operators", "compaction")(NearDupIngest.compactStoreAndIndexes(spark, store)))
      catch { case e: Throwable => Left(errorOf(e)) }
    }
    compactFiles += before.size
    compactBytes += liveFiles().map(Files.size).sum
    ops += Op("compaction", "compaction", secs, cpu, probe, result.isRight, result.left.getOrElse(""))
  }

  /** Per-batch verdicts: novel docs all admitted, exact repeats none,
    * plus the admitted ids for the cross-run identity check.
    */
  def check(): Map[String, Any] = {
    val ids = Compaction.readCompacted(spark, store).select("doc_id").as[Long].collect().toSet
    val perBatch = kinds.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, ks) =>
      Map("batch" -> b, "novel" -> ks.count(_._3 == "novel"), "exact" -> ks.count(_._3 == "exact"),
        "near" -> ks.count(_._3 == "near"),
        "novel_missing" -> ks.count { case (_, id, k) => k == "novel" && !ids(id) },
        "exact_admitted" -> ks.count { case (_, id, k) => k == "exact" && ids(id) },
        "near_admitted" -> ks.count { case (_, id, k) => k == "near" && ids(id) },
        "admitted_ids" -> ks.collect { case (_, id, _) if ids(id) => id }.sorted)
    }
    Map("batches" -> perBatch)
  }

  def summary: Map[String, Any] = Map(
    "batch_size" -> BatchSize, "batches" -> Batches,
    "novel_share" -> novelShare, "exact_share" -> exactShare,
    "near_share" -> (1 - novelShare - exactShare),
    "docs_in" -> docsIn, "docs_admitted" -> docsAdmitted,
    "store_files" -> Compaction.livePaths(store).size,
    "bytes_written" -> (storeDirs.map(dirBytes).sum - storeBytesBefore),
    "admitted_text_bytes" -> admittedTextBytes,
    "compaction_files_in" -> compactFiles, "compaction_bytes_rewritten" -> compactBytes)
}

/** Fixed single-thread CPU and cache work, timed: how fast one core of
  * this host runs right now. Neighbour load on a shared host slows a
  * core (hyperthread siblings, cache, clock) and so the run's CPU time;
  * `run.py` scales CPU times by this probe to a reference core speed.
  */
object Probe {
  private val sink = new java.util.concurrent.atomic.AtomicLong()
  /** Every probe of the pass, in order. */
  val all = ArrayBuffer.empty[Double]

  /** Median wall seconds of three passes of the work on the calling
    * thread: one pass caught by a burst of neighbour load does not count.
    */
  def run(): Double = {
    val secs = Seq.fill(3)(once()).sorted.apply(1)
    all += secs
    secs
  }

  private def once(): Double = {
    val t0 = System.nanoTime()
    val a = new Array[Long](1 << 19) // 4 MB: past L2, into the shared L3
    var x = 88172645463325252L
    var acc = 0L
    var k = 0
    while (k < (1 << 24)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & ((1 << 19) - 1)).toInt
      acc += a(j)
      a(j) = x
      k += 1
    }
    sink.addAndGet(acc)
    (System.nanoTime() - t0) / 1e9
  }
}
