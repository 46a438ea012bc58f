package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Compaction
import graft.streaming.{NearDupIngest, UpsertSink}

/** The composed flow: stream-edge exact dedup → per-batch
  * delta-vs-corpus near-dup check → idempotent append into the
  * compacted store. Exactly-once must hold across a compaction
  * committing BETWEEN micro-batches, and across a foreachBatch replay.
  */
// top-level: Spark can't synthesize an encoder for a suite-inner class
final case class IngestDoc(doc_id: Long, ts: Timestamp, text: String)

class NearDupIngestSpec extends SparkSpec {
  import spark.implicits._

  private type Doc = IngestDoc
  private def Doc(id: Long, ts: Timestamp, text: String) = IngestDoc(id, ts, text)

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000)

  // 20-token texts: 18 trigram shingles; one changed LAST token =>
  // overlap 17 / union 19 => Jaccard 0.894 >= 0.8 (near-dup), while
  // fully distinct vocabularies share nothing.
  private def text(words: String*) = words.mkString(" ")
  private val t1 = text((1 to 20).map(i => s"alpha$i"): _*)
  private val t2 = text((1 to 20).map(i => s"bravo$i"): _*)
  private val t3 = text((1 to 20).map(i => s"carol$i"): _*)
  private val t2near = text(((1 to 19).map(i => s"bravo$i") :+ "bravoX"): _*)
  private val tNovel = text((1 to 20).map(i => s"delta$i"): _*)
  private val tNovel2 = text((1 to 20).map(i => s"echo$i"): _*)
  private val tNovelNear = text(((1 to 19).map(i => s"delta$i") :+ "deltaX"): _*)

  private def storeIds(dir: String): Set[Long] =
    Compaction.readCompacted(spark, dir).select("doc_id").as[Long].collect().toSet

  test("streaming near-dup ingest is exactly-once across a concurrent compaction commit") {
    val dir = java.nio.file.Files.createTempDirectory("graftndingest").resolve("t").toString
    // seed corpus, then compact so the manifest protocol is active
    Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    val input = MemoryStream[Doc](spark)
    val q = NearDupIngest.start(spark, input.toDF(), dir)
    try {
      // batch 1: 10 novel (kept); 11 = exact text of corpus doc 1
      // (dropped); 12 = near-dup of corpus doc 2 (dropped); 13 and 14
      // identical within the batch — the stream-edge dedup keeps
      // exactly one (which of the two is the engine's choice)
      input.addData(
        Doc(10, ts(0), tNovel), Doc(11, ts(1), t1), Doc(12, ts(2), t2near),
        Doc(13, ts(3), tNovel2), Doc(14, ts(4), tNovel2))
      q.processAllAvailable()
      val after1 = storeIds(dir)
      assert(after1.intersect(Set(13L, 14L)).size == 1,
        s"exactly one of the within-batch twins must survive, got $after1")
      assert(after1 - 13L - 14L == Set(1L, 2L, 3L, 10L),
        s"batch 1: novel appended once, exact/near dups dropped; got $after1")

      // a compaction commits BETWEEN micro-batches: the ingested files
      // fold into the new generation; nothing doubles, nothing is lost
      Compaction.compactParquet(spark, dir)
      assert(storeIds(dir) == after1)

      // batch 2 reads the post-compaction snapshot: 20 novel (kept);
      // 21 = near-dup of doc 10, which entered the corpus via batch 1
      // (dropped) — the incremental check sees prior batches
      input.addData(Doc(20, ts(10), text((1 to 20).map(i => s"fox$i"): _*)),
        Doc(21, ts(11), tNovelNear))
      q.processAllAvailable()
      assert(storeIds(dir) == after1 + 20L,
        "batch 2: near-dup of a PREVIOUS batch's doc must be dropped")
      val total = Compaction.readCompacted(spark, dir).count()
      assert(total == after1.size + 1L, s"exactly-once: no double rows, got $total")
    } finally q.stop()
  }

  test("ingestBatch replay (same input, same batchId) is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graftndreplay").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    val batch = Seq(
      Doc(10, ts(0), tNovel), Doc(11, ts(1), t1), // novel + exact dup
      Doc(13, ts(3), tNovel2), Doc(14, ts(4), tNovel2)).toDF() // twins
    val first = NearDupIngest.ingestBatch(spark, batch, dir, batchId = 0)
    assert(first == 2, s"10 and min-twin 13 survive, got $first")
    assert(storeIds(dir) == Set(1L, 2L, 10L, 13L))
    // crash-replay: same batch, same id — the prior append is
    // self-excluded from the corpus and the file rename replaces, so
    // nothing doubles and nothing is dropped
    val second = NearDupIngest.ingestBatch(spark, batch, dir, batchId = 0)
    assert(second == 2 && storeIds(dir) == Set(1L, 2L, 10L, 13L))
    assert(Compaction.readCompacted(spark, dir).count() == 4)
    // the admission-funnel record is ONE row per batch, replay-stable
    def stats() = NearDupIngest.ingestStats(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats() == Map(0L -> ((4L, 2L))),
      s"after replay: one (n_in=4, n_admitted=2) record, got ${stats()}")
    // and a LATER batch near-duplicating a replayed doc is still caught
    val b2 = Seq(Doc(21, ts(9), tNovelNear)).toDF()
    assert(NearDupIngest.ingestBatch(spark, b2, dir, batchId = 1) == 0L)
    assert(storeIds(dir) == Set(1L, 2L, 10L, 13L))
    assert(stats() == Map(0L -> ((4L, 2L)), 1L -> ((1L, 0L))),
      s"all-dropped batch records its funnel row too, got ${stats()}")
  }

  test("compactStoreAndIndexes folds only its OWN store's side tables, never a prefix-sibling's") {
    val parent = java.nio.file.Files.createTempDirectory("graftsibling")
    val dirA = parent.resolve("t").toString
    val dirB = parent.resolve("t2").toString // name-prefix sibling of "t"
    for (d <- Seq(dirA, dirB)) {
      Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(d)
      NearDupIngest.ingestBatch(spark, Seq(Doc(10, ts(0), tNovel)).toDF(), d, batchId = 0)
    }
    // a crashed bootstrap's staging leftover (Spark _temporary inside)
    // and an unluckily-named sibling dataset must both be skipped —
    // the sweep would otherwise abort on the subdirectory
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dirA + ".dfidx-k3.tmp", "_temporary"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirA + ".fpidxfoo"))
    NearDupIngest.compactStoreAndIndexes(spark, dirA)
    def hasManifest(d: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(d, Compaction.ManifestName))
    assert(!hasManifest(dirA + ".dfidx-k3.tmp") && !hasManifest(dirA + ".fpidxfoo"),
      "maintenance swept a staging leftover or an unrelated sibling")
    for (idx <- Seq(NearDupIngest.fpIdxDir(dirA), NearDupIngest.shIdxDir(dirA, 3),
        NearDupIngest.statsDir(dirA)))
      assert(hasManifest(idx), s"own side table not folded: $idx")
    for (idx <- Seq(dirB, NearDupIngest.fpIdxDir(dirB), NearDupIngest.shIdxDir(dirB, 3),
        NearDupIngest.statsDir(dirB)))
      assert(!hasManifest(idx), s"sibling store's directory touched: $idx")
  }

  test("ingestBatch with an all-duplicate batch appends nothing and replays clean") {
    val dir = java.nio.file.Files.createTempDirectory("graftndempty").resolve("t").toString
    Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val batch = Seq(Doc(50, ts(0), t1)).toDF() // exact dup of corpus
    assert(NearDupIngest.ingestBatch(spark, batch, dir, batchId = 7) == 0L)
    assert(NearDupIngest.ingestBatch(spark, batch, dir, batchId = 7) == 0L)
    assert(storeIds(dir) == Set(1L))
  }

  test("ingest into a store on another filesystem than java.io.tmpdir") {
    import java.nio.file.{Files, Paths}
    val shm = Paths.get("/dev/shm")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    assume(Files.isDirectory(shm) && Files.isWritable(shm) &&
      Files.getFileStore(shm) != Files.getFileStore(tmp),
      "needs a writable /dev/shm on a different filesystem than java.io.tmpdir")
    val root = Files.createTempDirectory(shm, "graftndxfs")
    try {
      val dir = root.resolve("t").toString
      Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val batch = Seq(Doc(10, ts(0), tNovel), Doc(11, ts(1), t1), Doc(12, ts(2), t2near)).toDF()
      assert(NearDupIngest.ingestBatch(spark, batch, dir, batchId = 0) == 1L)
      assert(storeIds(dir) == Set(1L, 2L, 10L))
    } finally UpsertSink.rmTree(root)
  }

  test("duplicate doc_ids within a batch collapse to one deterministic row, never interleave") {
    // two DIFFERENT texts under one id (upstream contract violation):
    // keep-one (lexicographically-least text) — the store must never
    // hold two rows for one id
    val dir = java.nio.file.Files.createTempDirectory("graftdupid").resolve("t").toString
    Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ingestBatch(spark, Seq(Doc(5, ts(0), tNovel), Doc(5, ts(1), tNovel2)).toDF(),
      dir, batchId = 0)
    val got = Compaction.readCompacted(spark, dir).select("doc_id", "text")
      .as[(Long, String)].collect().filter(_._1 == 5L).map(_._2).toSeq
    assert(got == Seq(tNovel), s"expected one row holding the least text, got $got")
  }

  test("ingest alarms classify re-crawl and broken-index batches, never small ones") {
    val stats = Seq(
      (0L, 1000L, 10L),   // 1% admitted at volume -> re-crawl signature
      (1L, 1000L, 1000L), // everything admitted at volume -> index broke
      (2L, 1000L, 500L),  // healthy
      (3L, 10L, 10L),     // tiny batch: 1.0 rate is legitimate, no flag
      (4L, 0L, 0L)        // empty batch: rate NULL, no flag
    ).toDF("batch_id", "n_in", "n_admitted")
    val got = NearDupIngest.ingestAlarms(stats)
      .select("batch_id", "rate", "alarm")
      .as[(Long, Option[Double], Option[String])].collect()
      .map { case (b, r, a) => b -> ((r, a)) }.toMap
    assert(got(0L) == ((Some(0.01), Some("low_admission"))))
    assert(got(1L) == ((Some(1.0), Some("full_admission"))))
    assert(got(2L) == ((Some(0.5), None)))
    assert(got(3L) == ((Some(1.0), None)))
    assert(got(4L) == ((None, None)))
  }

  // ---------------------------------------------------------------
  // Incremental index side tables
  // ---------------------------------------------------------------

  /** Per-scan root-path lists of every file-source scan in the (lazy)
    * plan — one inner Seq per scan NODE (a manifest read lists its
    * live files as multiple roots of ONE scan).
    */
  private def scannedRootNodes(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(p => p.toUri.getPath).toSeq
          case _ => Seq.empty[String]
        }
    }

  /** Root paths of every file-source scan in the (lazy) plan. */
  private def scannedRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    scannedRootNodes(df).flatten

  /** Number of scan NODES reading under `dir`. */
  private def storeScanNodes(df: org.apache.spark.sql.DataFrame, dir: String): Int =
    scannedRootNodes(df).count(_.exists(p => p == dir || p.startsWith(dir + "/")))

  /** "No O(index) per batch" plan calculus: walk the optimized plan
    * upward from every index-directory scan; a scan stops being
    * O(index) ("unbounded") once it passes through
    *   - the RIGHT side of an anti/semi join (consumed as a filter of
    *     the other side),
    *   - a semi join whose probe (right) side is itself bounded — the
    *     delta-keys probe pattern (the index STREAMS under a
    *     broadcast of the probe keys; no index-side exchange),
    *   - an equi-join where the OTHER side is bounded (index rows
    *     surviving the join are limited to the bounded side's matches).
    * An anti join does NOT bound its left side (excluding a batch's
    * few doc_ids leaves the index effectively whole). Two violation
    * classes, both O(index) per micro-batch:
    *   - an Aggregate whose input still carries an unbounded index
    *     scan re-aggregates the full index every batch;
    *   - an unbounded index scan on an anti/semi join's BUILD (right)
    *     side: LeftAnti/LeftSemi can only broadcast their right side,
    *     so an index there forces a full index SHUFFLE per batch —
    *     the join-shape twin of the full-index aggregate.
    * Returns the offending descriptions; admission plans must return
    * none.
    */
  private def fullIndexAggregates(df: org.apache.spark.sql.DataFrame,
      idxDirs: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    def walk(p: LogicalPlan): Set[String] = p match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
              .filter(rp => idxDirs.exists(rp.startsWith)).toSet
          case _ => Set.empty
        }
      case j: Join =>
        import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter, RightOuter}
        val ls = walk(j.left); val rs = walk(j.right)
        j.joinType match {
          case LeftAnti | LeftSemi =>
            if (rs.nonEmpty)
              bad += s"unbounded index scan(s) on ${j.joinType} build side: ${rs.mkString(", ")}"
            // right consumed as a filter; anti does NOT bound the left
            if (j.joinType == LeftAnti) ls
            else if (rs.isEmpty) Set.empty else ls ++ rs
          // outer joins PRESERVE their outer side — a bounded inner
          // side cannot bound an index on the preserved side
          case LeftOuter  => if (ls.isEmpty) Set.empty else ls ++ rs
          case RightOuter => if (rs.isEmpty) Set.empty else ls ++ rs
          case FullOuter  => ls ++ rs
          case Inner | Cross => if (ls.isEmpty || rs.isEmpty) Set.empty else ls ++ rs
          case _ => ls ++ rs // unknown join types: stay conservative
        }
      case a: Aggregate =>
        val cs = walk(a.child)
        if (cs.nonEmpty)
          bad += s"Aggregate over unbounded index scan(s) ${cs.mkString(", ")}"
        Set.empty
      case other => other.children.map(walk).fold(Set.empty[String])(_ ++ _)
    }
    walk(df.queryExecution.optimizedPlan)
    bad.toList
  }

  test("steady-state admission scans ONLY the digest indexes, never the store's text") {
    val dir = java.nio.file.Files.createTempDirectory("graftndplan").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ensureDocIdx(spark, dir, 3)
    val batch = Seq(Doc(10, ts(0), tNovel)).toDF()

    val docFlow = NearDupIngest.admitDocsFlow(spark, batch, dir, batchId = 0, pin = identity)
    val docRoots = scannedRoots(docFlow)
    assert(docRoots.exists(_.startsWith(NearDupIngest.fpIdxDir(dir))), s"fp index unread: $docRoots")
    assert(docRoots.exists(_.startsWith(NearDupIngest.shIdxDir(dir, 3))), s"shingle index unread: $docRoots")
    assert(docRoots.exists(_.startsWith(NearDupIngest.dfIdxDir(dir, 3))), s"df index unread: $docRoots")
    assert(!docRoots.exists(p => p == dir || p.startsWith(dir + "/")),
      s"per-batch admission must not rescan the store (O(corpus) per batch at 100 TB): $docRoots")
  }

  test("admission aggregates are delta/candidate-bounded — no full-index Aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graftndagg").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ensureDocIdx(spark, dir, 3)
    val idxDirs = Seq(NearDupIngest.fpIdxDir(dir), NearDupIngest.shIdxDir(dir, 3),
      NearDupIngest.dfIdxDir(dir, 3))
    val batch = Seq(Doc(10, ts(0), tNovel), Doc(11, ts(1), t1)).toDF()

    val docFlow = NearDupIngest.admitDocsFlow(spark, batch, dir, batchId = 0, pin = identity)
    assert(fullIndexAggregates(docFlow, idxDirs).isEmpty,
      s"doc admission re-aggregates the full index per batch: ${fullIndexAggregates(docFlow, idxDirs)}")

    // the calculus itself must still flag both bad shapes: a groupBy
    // straight over the shingle index (the r10 aggregate
    // formulation), and an anti-join with the raw index on the build
    // side (the r10 exact-dedup join shape — full index shuffle)
    val shIdx = spark.read.parquet(NearDupIngest.shIdxDir(dir, 3))
    val badAgg = shIdx.groupBy("sh").count()
    assert(fullIndexAggregates(badAgg, idxDirs).nonEmpty,
      "calculus failed to flag a full-index aggregate")
    val badAnti = batch.select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("sh"))
      .join(shIdx.select("sh"), Seq("sh"), "left_anti")
    assert(fullIndexAggregates(badAnti, idxDirs).exists(_.contains("build side")),
      "calculus failed to flag an index on an anti-join build side")
  }

  /** Every physical plan `body` runs, as AQE plans it before any stage
    * runs: each adaptive plan's input plan with the shuffles and
    * broadcasts EnsureRequirements adds. (AQE's final plan depends on
    * which stages finished first; its input plan does not.)
    */
  private def plansRunBy(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.EnsureRequirements
    val seen = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.synchronized { seen += qe; () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.graft.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    def planned(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => planned(EnsureRequirements().apply(a.inputPlan))
      case other => other +: other.collect { case a: AdaptiveSparkPlanExec => a }.flatMap(planned)
    }
    seen.synchronized(seen.toList).flatMap(qe => planned(qe.executedPlan))
  }

  /** Index directories (`<store>.*idx*`) a plan's file scan reads. */
  private def idxRoots(s: org.apache.spark.sql.execution.FileSourceScanExec,
      storeDir: String): Seq[String] =
    s.relation.location.rootPaths.map(_.toUri.getPath).toSeq
      .filter(p => p.startsWith(storeDir + ".") && p.drop(storeDir.length).contains("idx"))

  /** Delta-bounded index access on physical plans: rows of an index
    * scan may leave their scan's stage only after a broadcast probe
    * filtered them, i.e. as the streamed side of a broadcast semi/inner
    * join against delta- or candidate-bounded keys. A violation is an
    * exchange (shuffle or broadcast) whose stage reads an index scan
    * that no such probe filtered: the index itself is hash-shuffled or
    * shipped to every task — O(index) per batch.
    */
  private def indexExchangeViolations(plans: Seq[org.apache.spark.sql.execution.SparkPlan],
      storeDir: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange,
      ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // index scans in `p`'s stage that no broadcast probe filtered
    def unprobed(p: SparkPlan): Seq[String] = p match {
      case _: Exchange | _: ReusedExchangeExec => Nil
      case s: FileSourceScanExec => idxRoots(s, storeDir)
      // the streamed side's rows leave as probe hits; the build side is
      // a broadcast, its own stage
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi || j.joinType == Inner => Nil
      case other => other.children.flatMap(unprobed)
    }
    plans.flatMap(_.collect {
      case e: ShuffleExchangeLike => unprobed(e.child).map(dir => s"index shuffled: $dir\n$e")
      case e: BroadcastExchangeLike => unprobed(e.child).map(dir => s"index broadcast: $dir\n$e")
    }.flatten).distinct
  }

  /** Runs `body` with size-based broadcasting off: a broadcast must
    * come from the code's hints, as it must at scale.
    */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a real ingestBatch never shuffles an index: every index scan streams under a broadcast probe") {
    val dir = java.nio.file.Files.createTempDirectory("graftndguard").resolve("t").toString
    Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ingestBatch(spark, Seq(Doc(10, ts(0), tNovel)).toDF(), dir, batchId = 0)
    // a steady-state batch: novel, exact repeat, near-dup of a seed doc
    // and of the previous batch's doc, so every admission branch runs
    val batch = Seq(Doc(20, ts(5), tNovel2), Doc(21, ts(6), t1), Doc(22, ts(7), t2near),
      Doc(23, ts(8), tNovelNear)).toDF()
    val plans = withoutAutoBroadcast(plansRunBy {
      assert(NearDupIngest.ingestBatch(spark, batch, dir, batchId = 1) == 1L)
    })
    val read = plans.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => idxRoots(s, dir)
    }.flatten).toSet
    for (idx <- Seq(NearDupIngest.fpIdxDir(dir), NearDupIngest.shIdxDir(dir, 3),
        NearDupIngest.dfIdxDir(dir, 3)))
      assert(read.exists(_.startsWith(idx)), s"no captured plan reads $idx: $read")
    val bad = indexExchangeViolations(plans, dir)
    assert(bad.isEmpty, s"index rows cross an exchange:\n${bad.mkString("\n")}")
    assert(storeIds(dir) == Set(1L, 2L, 3L, 10L, 20L))
  }

  /** The pre-index formulation (full store-text rescan per batch),
    * kept as the equivalence oracle: the incremental-index ingest must
    * admit EXACTLY the docs this admits.
    */
  private def rescanSurvivorIds(batch: org.apache.spark.sql.DataFrame, dir: String,
      jaccardMin: Double = 0.8, shingleK: Int = 3, maxDf: Int = 8): Set[Long] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def fpc(c: org.apache.spark.sql.Column) = md5(trim(regexp_replace(lower(c), "\\s+", " ")))
    val docs = batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id").orderBy("text")))
      .where(col("__rn") === 1).drop("__rn")
    val corpus = Compaction.readCompacted(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text").cast("string").as("text"))
      .join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
    val keeper = Window.partitionBy("fp").orderBy("doc_id")
    val exactNew = docs.withColumn("fp", fpc(col("text")))
      .withColumn("rn", row_number().over(keeper)).where(col("rn") === 1)
      .join(corpus.select(fpc(col("text")).as("fp")), Seq("fp"), "left_anti")
      .select("doc_id", "text")
    val post = graft.llm.TextOps.shinglePostings(exactNew.unionByName(corpus), shingleK)
    val rare = post.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("shingle")
    val deltaIds = exactNew.select(col("doc_id").as("doc_a"))
    val deltaPost = post.join(deltaIds, col("doc_id") === col("doc_a"))
      .join(rare, "shingle").select(col("doc_a"), col("shingle"))
    val corpusPost = post.join(corpus.select(col("doc_id").as("doc_b")),
      col("doc_id") === col("doc_b")).select(col("doc_b"), col("shingle").as("sh_r"))
    val cand = deltaPost.join(corpusPost, col("shingle") === col("sh_r"))
      .select("doc_a", "doc_b").distinct()
    val cnt = post.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val overlap = cand
      .join(post.select(col("doc_id").as("pa"), col("shingle").as("sha")), col("doc_a") === col("pa"))
      .join(post.select(col("doc_id").as("pb"), col("shingle").as("shb")),
        col("doc_b") === col("pb") && col("sha") === col("shb"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ov"))
    val nearDup = overlap
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .where(col("ov").cast("double") / (col("na") + col("nb") - col("ov")) >= jaccardMin)
      .select(col("doc_a").as("doc_id")).distinct()
    exactNew.join(nearDup, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
  }

  test("incremental-index admission matches the full-rescan formulation batch for batch") {
    // two stores seeded identically; one ingested incrementally, one
    // adjudicated by the rescan oracle before each ingest
    val dir = java.nio.file.Files.createTempDirectory("graftndequiv").resolve("t").toString
    Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    // the Jaccard boundary against seed 3: its 19th token replaced
    // leaves 16 of 20 union shingles shared (exactly 4/5, a near-dup);
    // its 10th replaced leaves 15 of 21 (5/7, novel)
    def t3with(pos: Int) = text((1 to 20).map(i => if (i == pos) "carolX" else s"carol$i"): _*)
    val b1 = Seq(
      Doc(10, ts(0), tNovel), Doc(11, ts(1), t1), Doc(12, ts(2), t2near),
      Doc(13, ts(3), tNovel2), Doc(14, ts(4), tNovel2),
      Doc(15, ts(5), t3with(19)), Doc(16, ts(6), t3with(10))).toDF()
    val want1 = rescanSurvivorIds(b1, dir)
    assert(!want1(15L) && want1(16L), s"boundary docs: 4/5 rejected, 15/21 admitted ($want1)")
    NearDupIngest.ingestBatch(spark, b1, dir, batchId = 0)
    assert(storeIds(dir) == Set(1L, 2L, 3L) ++ want1,
      s"batch 1: incremental admission must equal the rescan oracle ($want1)")

    // batch 2 probes docs that entered via batch 1 — the index path
    // must see them exactly as the rescan path sees the grown store
    val b2 = Seq(Doc(20, ts(10), tNovelNear), Doc(21, ts(11), t3),
      Doc(22, ts(12), text((1 to 20).map(i => s"golf$i"): _*))).toDF()
    val want2 = rescanSurvivorIds(b2, dir)
    val before = storeIds(dir)
    NearDupIngest.ingestBatch(spark, b2, dir, batchId = 1)
    assert(storeIds(dir) == before ++ want2,
      s"batch 2: incremental admission must equal the rescan oracle ($want2)")
  }

  test("a store compaction between batches leaves the index path exact") {
    val dir = java.nio.file.Files.createTempDirectory("graftndcompact").resolve("t").toString
    Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ingestBatch(spark, Seq(Doc(10, ts(0), tNovel)).toDF(), dir, batchId = 0)
    // ONE maintenance entry point folds seed + ingest-0 AND every
    // index side table the ingest accreted (fp, shingle, df-partials):
    // the manifest-aware readIdx must keep admission exact
    // across all of them — for the df partials that additionally pins
    // that compaction preserves the partial-row multiset (df is
    // derived by summation)
    NearDupIngest.compactStoreAndIndexes(spark, dir)
    for (idx <- Seq(NearDupIngest.fpIdxDir(dir), NearDupIngest.shIdxDir(dir, 3),
        NearDupIngest.dfIdxDir(dir, 3)))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx, Compaction.ManifestName)),
        s"maintenance entry point skipped $idx")
    // near-dup of the pre-compaction append must still be caught, and
    // a replayed batchId must not resurrect via the rewritten store
    assert(NearDupIngest.ingestBatch(spark, Seq(Doc(20, ts(5), tNovelNear)).toDF(), dir, 1) == 0L)
    assert(storeIds(dir) == Set(1L, 10L))
  }

  test("a bootstrap that loses the race to a concurrent one discards its snapshot") {
    import java.nio.file.{Files, Paths}
    val idx = Files.createTempDirectory("graftndrace").resolve("t.fpidx").toString
    NearDupIngest.ensureIdx(idx) {
      // a concurrent bootstrap publishes the index between our
      // existence check and our rename
      Seq((1L, "winner")).toDF("doc_id", "fp").write.parquet(idx)
      Seq((1L, "loser")).toDF("doc_id", "fp")
    }
    assert(!Files.exists(Paths.get(idx + ".tmp")), "the loser left its staging dir behind")
    assert(spark.read.parquet(idx).as[(Long, String)].collect().toSeq == Seq((1L, "winner")))
  }

  test("a store with a prefix-partitioned fp index from an older engine bootstraps the flat one") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graftndlegacy").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    assert(NearDupIngest.ingestBatch(spark, Seq(Doc(10, ts(0), tNovel)).toDF(), dir, 0) == 1L)
    // the older layout: no flat fp index, `pfx=<first hex char>` leaves
    // under `<store>.fpidx-p1` holding the store's fingerprints
    UpsertSink.rmTree(Paths.get(NearDupIngest.fpIdxDir(dir)))
    val legacy = Paths.get(dir + ".fpidx-p1")
    Compaction.readCompacted(spark, dir)
      .select(col("doc_id"), md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .withColumn("pfx", substring(col("fp"), 1, 1))
      .write.partitionBy("pfx").parquet(legacy.toString)
    // and a passage-digest index, which no engine reads any more, as
    // two parquet files
    val passage = Paths.get(dir + ".pgidx-c16")
    Seq((1L, "pg1")).toDF("doc_id", "pg").write.parquet(passage.toString)
    Seq((2L, "pg2")).toDF("doc_id", "pg").write.mode("append").parquet(passage.toString)
    // and a per-doc shingle-count index, which no engine reads any
    // more either, as two parquet files
    val counts = Paths.get(dir + ".cntidx-k3")
    Seq((1L, 18L)).toDF("doc_id", "n").write.mode("overwrite").parquet(counts.toString)
    Seq((2L, 18L)).toDF("doc_id", "n").write.mode("append").parquet(counts.toString)
    def snapshot(root: Path): Seq[(String, Long, Long)] = {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.map((p: Path) => (root.relativize(p).toString,
        Files.size(p), Files.getLastModifiedTime(p).toMillis)).sorted
      finally w.close()
    }
    val before = snapshot(legacy)
    assert(before.exists(_._1.startsWith("pfx=")), s"fixture has no pfx= leaves: $before")
    val passageBefore = snapshot(passage)
    assert(passageBefore.count(_._1.endsWith(".parquet")) >= 2,
      s"fixture has fewer than two passage files: $passageBefore")
    val countsBefore = snapshot(counts)
    assert(countsBefore.count(_._1.endsWith(".parquet")) >= 2,
      s"fixture has fewer than two count files: $countsBefore")

    NearDupIngest.compactStoreAndIndexes(spark, dir)
    assert(snapshot(legacy) == before, "maintenance touched the legacy fp index")
    assert(snapshot(passage) == passageBefore, "maintenance touched the legacy passage index")
    assert(snapshot(counts) == countsBefore, "maintenance touched the legacy count index")
    assert(Files.exists(Paths.get(NearDupIngest.shIdxDir(dir, 3), Compaction.ManifestName)))

    // 20 repeats store doc 1 exactly; 21 is novel
    val batch = Seq(Doc(20, ts(5), t1), Doc(21, ts(6), tNovel2)).toDF()
    assert(NearDupIngest.ingestBatch(spark, batch, dir, batchId = 1) == 1L)
    assert(Files.isDirectory(Paths.get(NearDupIngest.fpIdxDir(dir))), "flat fp index not bootstrapped")
    assert(storeIds(dir) == Set(1L, 2L, 10L, 21L))
    assert(snapshot(legacy) == before, "ingest touched the legacy fp index")
    assert(snapshot(passage) == passageBefore, "ingest touched the legacy passage index")
    assert(snapshot(counts) == countsBefore, "ingest touched the legacy count index")
  }

  test("deleting an index directory triggers an exact rebuild from the store") {
    val dir = java.nio.file.Files.createTempDirectory("graftndrebuild").resolve("t").toString
    Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    NearDupIngest.ingestBatch(spark, Seq(Doc(10, ts(0), tNovel)).toDF(), dir, batchId = 0)
    // repair path: lose the indexes; the next batch bootstraps them
    // from the CURRENT store (seed + batch 0) and still catches dups
    for (idx <- Seq(NearDupIngest.fpIdxDir(dir), NearDupIngest.shIdxDir(dir, 3),
        NearDupIngest.dfIdxDir(dir, 3)))
      UpsertSink.rmTree(java.nio.file.Paths.get(idx))
    assert(NearDupIngest.ingestBatch(spark, Seq(Doc(20, ts(5), t1), Doc(21, ts(6), tNovelNear)).toDF(), dir, 1) == 0L)
    assert(storeIds(dir) == Set(1L, 10L))
  }

  test("quality gate rejects junk before the index; the same doc admits ungated later") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graftndgate").resolve("t").toString
    Seq((1L, t1)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    // the batch tier's rule filter as the stream-edge admission gate
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = d =>
      d.join(llm.CurationQueries.gopherFilterDf(d, llm.CurationQueries.GopherRule(5, 0.30, 0.5))
        .where(col("kept") === 1).select("doc_id"), "doc_id")

    // junk = 20x the same stopword: distinct-word ratio 0.05 fails the
    // rule filter; tNovel passes it and is novel vs the store
    val junk = text((1 to 20).map(_ => "the"): _*)
    val n1 = NearDupIngest.ingestBatch(spark,
      Seq((20L, junk), (21L, tNovel)).toDF("doc_id", "text"), dir,
      batchId = 0, gate = gate)
    assert(n1 == 1 && storeIds(dir) == Set(1L, 21L))
    // gate-rejected rows fold into the funnel like any other removal
    val st0 = NearDupIngest.ingestStats(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(st0 == Set((0L, 2L, 1L)), s"funnel expected (0,2,1), got $st0")

    // the junk doc was GATE-rejected, not dedup-rejected: it never
    // touched the indexes, so an ungated later batch admits it
    val n2 = NearDupIngest.ingestBatch(spark,
      Seq((22L, junk)).toDF("doc_id", "text"), dir, batchId = 1)
    assert(n2 == 1 && storeIds(dir) == Set(1L, 21L, 22L))
  }

  test("lifecycle: gated streaming store feeds the batch sweep — empty when clean, catches crash-window dups, funnel reconciles") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graftndlife").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    // streaming tier: gopher gate at the edge, two micro-batches
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = d =>
      d.join(llm.CurationQueries.gopherFilterDf(d, llm.CurationQueries.GopherRule(5, 0.30, 0.5))
        .where(col("kept") === 1).select("doc_id"), "doc_id")
    val junk = text((1 to 20).map(_ => "the"): _*)
    val input = MemoryStream[Doc](spark)
    val q = NearDupIngest.start(spark, input.toDF(), dir, gate = gate)
    try {
      // 10 novel; 11 exact dup of seed 1; 12 gate-rejected junk;
      // 13 near-dup of seed 2
      input.addData(Doc(10, ts(0), tNovel), Doc(11, ts(1), t1),
        Doc(12, ts(2), junk), Doc(13, ts(3), t2near))
      q.processAllAvailable()
      // 20 novel; 21 near-dup of 10, which entered via batch 0
      input.addData(Doc(20, ts(10), tNovel2), Doc(21, ts(11), tNovelNear))
      q.processAllAvailable()
    } finally q.stop()
    assert(storeIds(dir) == Set(1L, 2L, 10L, 20L))
    NearDupIngest.compactStoreAndIndexes(spark, dir)

    // funnel ⟷ store reconciliation on the CLEAN run: every store row
    // beyond the seed is a funnel admission
    // the stream interleaves empty watermark-advance micro-batches
    // ((id, 0, 0) rows) — the funnel records them faithfully; the
    // data-carrying rows are the two real batches
    val stats = NearDupIngest.ingestStats(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(stats.collect { case (_, in, adm) if in > 0 => (in, adm) } ==
      Set((4L, 1L), (2L, 1L)), s"funnel rows: $stats")
    val admittedTotal = stats.toSeq.map(_._3).sum
    assert(storeIds(dir).size == 2 + admittedTotal,
      "clean run: store = seed + funnel admissions")

    // batch tier over the streaming store's compacted output: a clean
    // ingest left nothing for the sweep to find
    assert(NearDupIngest.storeSweep(spark, dir).count() == 0L,
      "sweep over a cleanly-ingested store must be empty")

    // the sweep's one-scan contract, machine-checked on both halves:
    // the digest derivation scans the store exactly once, and the
    // sweep dataflow reads only the pinned digest frame
    val digestStoreScans = storeScanNodes(NearDupIngest.sweepDigests(spark, dir), dir)
    assert(digestStoreScans == 1,
      s"digest derivation must scan the store exactly once, got $digestStoreScans")
    val sweepStoreScans = storeScanNodes(NearDupIngest.storeSweep(spark, dir), dir)
    assert(sweepStoreScans == 0,
      s"sweep must read store text only through the digest pin, got $sweepStoreScans scans")

    // crash-window simulation: a batch's store append landed but the
    // process died before ANY index append — the documented torn
    // window whose skew direction is "dup admitted, swept later".
    // 30 = exact dup of seed 1; 31 = near-dup of admitted doc 10.
    val t10near = text(((1 to 19).map(i => s"delta$i") :+ "deltaY"): _*)
    UpsertSink.publishSingleFile(Seq((30L, t1), (31L, t10near)).toDF("doc_id", "text"),
      java.nio.file.Paths.get(dir), "ingest-99.parquet")
    assert(storeIds(dir) == Set(1L, 2L, 10L, 20L, 30L, 31L))

    // the sweep finds EXACTLY the safe-skew admissions, with reasons —
    // an exact dup is also a Jaccard-1.0 near dup, and the sweep
    // reports both independently (x_dedup_corpus's union semantics)
    val swept = NearDupIngest.storeSweep(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(swept == Set((30L, "exact_dup"), (30L, "near_dup"), (31L, "near_dup")),
      s"sweep found: $swept")
    // and the swept DOCS are exactly the rows the funnel cannot account for
    assert(storeIds(dir).size - 2 - admittedTotal == swept.map(_._1).size,
      "sweep must explain exactly the store rows the funnel did not admit")
  }

  test("alarm monitor tails the funnel and materializes flagged batches into a queryable log") {
    val dir = java.nio.file.Files.createTempDirectory("graftndalarm").resolve("t").toString
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    Compaction.compactParquet(spark, dir)

    // batch 0: all-novel => rate 1.0 (full_admission at minIn=2 —
    // the broken-index signature); the stats file it writes also
    // creates the directory the monitor tails
    val novel3 = Seq((10L, tNovel), (11L, tNovel2),
      (12L, text((1 to 20).map(i => s"golf$i"): _*)))
    assert(NearDupIngest.ingestBatch(spark, novel3.toDF("doc_id", "text"), dir, batchId = 0) == 3L)

    val q = NearDupIngest.startAlarmMonitor(spark, dir, minIn = 2L)
    try {
      q.processAllAvailable()
      // batch 1: all dups of batch 0 => rate 0 (low_admission);
      // batch 2: mixed (1 novel, 1 dup) => rate 0.5, NO alarm
      assert(NearDupIngest.ingestBatch(spark,
        Seq((20L, tNovel), (21L, tNovel2)).toDF("doc_id", "text"), dir, batchId = 1) == 0L)
      assert(NearDupIngest.ingestBatch(spark,
        Seq((30L, text((1 to 20).map(i => s"hotel$i"): _*)), (31L, t1))
          .toDF("doc_id", "text"), dir, batchId = 2) == 1L)
      q.processAllAvailable()
    } finally q.stop()

    val log = NearDupIngest.alarmLog(spark, dir)
      .select("batch_id", "n_in", "n_admitted", "alarm")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(log == Set(
      (0L, 3L, 3L, "full_admission"),
      (1L, 2L, 0L, "low_admission")), s"alarm log: $log")

    // maintenance folds the alarm accretion like every other side
    // table, and folding never changes what the log reads back
    NearDupIngest.compactStoreAndIndexes(spark, dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        NearDupIngest.alarmsDir(dir), Compaction.ManifestName)),
      "maintenance must fold the alarms table")
    val after = NearDupIngest.alarmLog(spark, dir)
      .select("batch_id", "n_in", "n_admitted", "alarm")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(after == log, "compaction changed the alarm log")
  }
}
