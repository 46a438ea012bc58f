package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StringShingles
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.llm.DedupQueries.{jaccardVerified, pairOverlaps, rareShingleCandidates, RareDfCap}
import graft.llm.TextOps.{exactFp, tokens}
import graft.operators.Compaction

/** Streaming near-dup ingest — the composition of three shipped
  * pieces into the flow a live training-data pipeline actually runs:
  *
  *   1. [[StreamingIngest.dedupWithinWatermark]] drops exact repeats
  *      at the stream edge (bounded per-key state, watermark-evicted);
  *   2. per micro-batch, the delta-vs-corpus near-dup check of
  *      `x_dedup_incremental` runs against INCREMENTAL digest side
  *      tables (fingerprints + shingle digests maintained alongside
  *      the store) — rare-shingle candidates, exact-Jaccard verify,
  *      only the delta side probes (never corpus × corpus), and the
  *      store's TEXT is never re-scanned in steady state;
  *   3. survivors are appended to the store under the manifest
  *      protocol of [[graft.operators.Compaction]]: un-prefixed files
  *      are live immediately and fold into the next maintenance run.
  *
  * '''Index side tables.''' Steady-state per-batch cost must be
  * O(batch), independent of corpus length — re-deriving fingerprints
  * or shingle postings from the store's text every micro-batch is a
  * full-corpus scan per batch, exactly what kills the design at
  * 100 TB. So each store keeps digest side tables as siblings:
  *
  *   - `<store>.fpidx`          — (doc_id, fp): exact-dup fingerprints
  *   - `<store>.shidx-k<k>`     — (doc_id, sh): md5 shingle digests
  *   - `<store>.dfidx-k<k>`     — (sh, df, batch_id): PARTIAL
  *     document-frequency counts, one row per (shingle, batch);
  *     a digest's corpus df is the SUM of its matching partials
  *   - `<store>.stats`          — (batch_id, n_in, n_admitted): the
  *     per-batch admission funnel (operational observability)
  *
  * Every join in the admission dataflow tests only digest EQUALITY
  * (df cap, candidate generation, overlap counting), so md5 digests
  * are drop-in for the raw strings — smaller rows, same result modulo
  * md5 collision. The shingle size k is part of the directory name,
  * so an index can never silently serve a differently-configured
  * ingest. Indexes are bootstrapped ONCE from the store's text if
  * absent (derive → write to `.tmp` → atomic directory rename, so a
  * torn bootstrap is invisible), then
  * maintained by the same idempotent single-file-per-batch append as
  * the store itself. Like the store, an index directory accretes one
  * file per batch and can be folded by [[Compaction.compactParquet]];
  * the read path is manifest-aware (and the df partials are
  * compaction-safe by construction — compaction preserves the row
  * multiset and df is derived by summation, never by row identity).
  *
  * '''Why PARTIAL df counts, not a merged (sh, df) table.''' A merged
  * table would need read-modify-write per batch (random updates — not
  * a parquet-append shape) or a full re-aggregation per batch (the
  * O(index) cost this table exists to kill). Partials keep the write
  * path a pure idempotent append, and the READ stays delta-bounded:
  * the admission equi-joins the batch's digests against the partials
  * FIRST and sums only the matched rows, so the aggregation's input is
  * O(batch digests × matching partial rows), never O(index). The
  * `batch_id` column exists solely for replay self-exclusion — the
  * aggregated row carries no doc_id to anti-join on, so a replayed
  * batch excludes its own prior partials by id instead (bootstrap rows
  * carry batch_id = -1, never a real foreachBatch id — guarded by a
  * require in the ingest entry point). One consequence: an id
  * re-delivered under a DIFFERENT batchId (out of contract — see
  * normalizedDocs) is excluded from the fp/sh reads by doc_id but
  * its old df partials still count, so shared shingles' df can be
  * overcounted by one — fewer candidates, worst case an admitted
  * near-dup (the documented safe skew direction), never dropped novel
  * content.
  *
  * Exactly-once, by construction rather than coordination:
  *   - the corpus and indexes are resolved through the manifest
  *     protocol, so a compaction committing CONCURRENTLY with a
  *     micro-batch is invisible to it — the reader sees the pre- or
  *     post-commit snapshot, never a torn mix;
  *   - the append is IDEMPOTENT: each micro-batch lands as one file
  *     per target named by its batchId (`ingest-<id>.parquet`),
  *     committed with an atomic rename-replace. A foreachBatch replay
  *     after a crash recomputes the same survivors (the batch's own
  *     previous store AND index appends are self-excluded by doc_id)
  *     and overwrites the same files — rows can never double. The
  *     store file is renamed FIRST: if a crash lands between the two
  *     appends, the replay overwrites both; and in the no-replay
  *     worst case (stream abandoned mid-batch) the skew is the safe
  *     direction — a stored doc missing from the index can at worst
  *     let a future near-dup through (swept by the batch-mode
  *     `x_dedup_corpus` pass), never drop novel content against a
  *     phantom index entry.
  *
  * Scale shape: per batch, one rare-shingle equi-join (delta digests
  * × df-capped index digests) + the exact-verify join — the
  * x_dedup_incremental dataflow with the delta bounded by micro-batch
  * size. Steady-state per-batch cost is O(batch × doc-size) in
  * SHUFFLE and AGGREGATION terms, independent of corpus length, and
  * the plan enforces it with hints rather than leaving it to size
  * estimates:
  *   - every index is read only as the streamed side of a join whose
  *     other side is an explicit `broadcast` of delta- or
  *     candidate-bounded keys (batch ids, batch fps, delta digests,
  *     rare digests, candidate docs), so no index is ever shuffled or
  *     broadcast whole, at any corpus size; the rows that survive the
  *     probe join the delta side however the planner sizes them;
  *   - the store's text is never read, and every aggregation input is
  *     delta- or candidate-bounded (df from partial-count sums after
  *     the delta probe, corpus-side per-doc counts from the candidate
  *     docs' postings after the candidate probe).
  * The delta side is an ordinary parallel plan; what the hints bound
  * by the micro-batch is each broadcast key set, the largest being the
  * batch's distinct shingle digests (~B × shingles-per-doc md5s).
  * `NearDupIngestSpec` machine-checks both levels: the physical plans
  * a real ingest runs (index rows cross an exchange only after a
  * broadcast probe filtered them — with size-based broadcasting off,
  * so the hints carry it) and the logical admission plan
  * (index-dirs-only scans; no full-index Aggregate; no index on an
  * anti/semi build side). The remaining per-batch index cost is scan
  * I/O. Every side table is flat: the shingle and df probes are
  * delta-dense (a batch of B docs probes ~B × shingles-per-doc
  * digests, touching nearly every digest prefix), so a
  * prefix-partitioned layout would prune nothing there while
  * multiplying the per-batch small-file accretion, and the fp
  * index, at one digest per doc, is a few percent of their bytes. The
  * shingle-side scan I/O is thus the honest per-batch floor.
  * Store growth is one file per batch per target, exactly the
  * small-file accretion [[Compaction.compactParquet]] exists to fold.
  */
object NearDupIngest {

  /** Word-shingle size of the near-dup digests (the batch family's). */
  private val ShingleK = 3

  // ---------------------------------------------------------------
  // Index side tables
  // ---------------------------------------------------------------

  private[graft] def fpIdxDir(storeDir: String): String = storeDir + ".fpidx"
  private[graft] def shIdxDir(storeDir: String, k: Int): String = s"$storeDir.shidx-k$k"
  private[graft] def dfIdxDir(storeDir: String, k: Int): String = s"$storeDir.dfidx-k$k"
  private[graft] def statsDir(storeDir: String): String = storeDir + ".stats"

  private val fpSchema = StructType.fromDDL("doc_id BIGINT, fp STRING")
  private val shSchema = StructType.fromDDL("doc_id BIGINT, sh STRING")
  private val dfSchema = StructType.fromDDL("sh STRING, df BIGINT, batch_id BIGINT")
  private val statsSchema = StructType.fromDDL("batch_id BIGINT, n_in BIGINT, n_admitted BIGINT")

  /** Per-doc shingle digests as one array: the doc's distinct k-token
    * shingles (the batch dedup family's), md5'd — every downstream
    * operation is an equality test, so the digest is a drop-in for the
    * raw shingle.
    */
  private def shingleDigestArray(text: Column, k: Int = ShingleK): Column =
    transform(array_distinct(StringShingles(tokens(text), k)), s => md5(s))

  /** Manifest-aware index read with an explicit schema (a bootstrapped
    * index over an all-short-docs store can be legitimately empty).
    */
  private def readIdx(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(dir, Compaction.ManifestName)))
      Compaction.readCompacted(spark, dir).select(schema.fieldNames.map(col): _*)
    else spark.read.schema(schema).parquet(dir)

  /** [[readIdx]], or empty before the first append: for `.stats` and
    * `.alarms` only, never an admission index, which must exist.
    */
  private def readIdxOrEmpty(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(dir))) readIdx(spark, dir, schema)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One-time bootstrap: derive the index from the store's text and
    * publish it with an atomic directory rename (derive → `.tmp` →
    * move), so a crashed bootstrap leaves no half-index a later call
    * would trust. Losing a concurrent-bootstrap race discards our
    * snapshot — the winner's is equivalent. This is ALSO the
    * documented repair path: delete an index directory and the next
    * batch rebuilds it from the store.
    */
  private[graft] def ensureIdx(idxDir: String)(derive: => DataFrame): Unit = {
    val target = Paths.get(idxDir)
    if (!Files.exists(target)) {
      val tmp = Paths.get(idxDir + ".tmp")
      UpsertSink.rmTree(tmp)
      derive.write.mode("overwrite").parquet(tmp.toString)
      // a directory renamed onto a non-empty one fails with
      // FileAlreadyExistsException or, on Linux, a plain
      // FileSystemException ("Directory not empty"): whichever it is,
      // a target that now exists is the lost race
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.io.IOException =>
          if (Files.exists(target)) UpsertSink.rmTree(tmp) else throw e
      }
    }
  }

  private def storeText(spark: SparkSession, storeDir: String): DataFrame =
    Compaction.readCompacted(spark, storeDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))

  private[graft] def ensureDocIdx(spark: SparkSession, storeDir: String, k: Int): Unit = {
    ensureIdx(fpIdxDir(storeDir)) {
      storeText(spark, storeDir).select(col("doc_id"), exactFp(col("text")).as("fp"))
    }
    ensureIdx(shIdxDir(storeDir, k)) {
      storeText(spark, storeDir)
        .select(col("doc_id"), explode(shingleDigestArray(col("text"), k)).as("sh")).distinct()
    }
    // The df side table bootstraps from the shingle index (a ONE-TIME
    // full-index aggregate; thereafter maintained by per-batch delta
    // appends). The shingle index is ensured above, so a repair-path
    // rebuild of any subset of index dirs converges on the same store
    // snapshot. Narrow bootstrap edge: a bootstrap racing a crash-
    // replay whose store append already landed folds that batch's
    // digests into the -1 rows, which the replay's batch_id exclusion
    // cannot remove — df can only be OVERcounted, so shingles look
    // more common, candidates shrink, and the worst case is an
    // admitted near-dup (swept by the batch-mode corpus pass), never
    // dropped novel content — the same safe-direction skew as the
    // store-before-index append ordering.
    ensureIdx(dfIdxDir(storeDir, k)) {
      readIdx(spark, shIdxDir(storeDir, k), shSchema)
        .groupBy("sh").agg(count(lit(1)).as("df")).withColumn("batch_id", lit(-1L))
    }
  }

  /** Batch normalization ahead of admission. `doc_id` is the
    * STABLE document identity: re-delivery of an id is treated as a
    * replay of the same content (the idempotence design hinges on it —
    * the corpus read self-excludes the batch's ids), so an upstream
    * that re-sends an id with DIFFERENT text violates the contract;
    * the nearest safe behavior is keep-one-deterministically, never
    * two rows under one id. Within a batch, duplicate ids collapse to
    * the lexicographically-least text (replay-stable).
    */
  private def normalizedDocs(batch: DataFrame): DataFrame =
    batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("text")))
      .where(col("__rn") === 1).drop("__rn")

  /** The full LAZY admission dataflow for the doc-level ingest —
    * exposed (package-private) so the spec can assert on its plan
    * that steady state reads ONLY the index directories, never the
    * store's text. `pin` is where the production path injects
    * localCheckpoints (identity in the plan test, so no LogicalRDD
    * truncates the visible plan).
    *
    * Steps: exact dedup within the batch (min doc_id wins — ties are
    * replay-deterministic), exact dedup vs the fingerprint index
    * (anti-join), near-dup vs the shingle-digest index (rare-digest
    * candidates + the batch family's exact-Jaccard cut,
    * [[graft.llm.DedupQueries.jaccardVerified]]). Returns survivors as
    * (doc_id, text, fp, shs), `shs` the doc's shingle digests; replay
    * self-exclusion is applied to EVERY index read — by the batch's
    * doc_ids where the index carries one (fp/sh; the candidate-posting
    * read is keyed by candidate docs, which already exclude them), by
    * `batchId` for the df partials — mirroring the corpus
    * self-exclusion of the pre-index formulation.
    *
    * '''Shape: indexes only as broadcast probes.''' The normalized,
    * gated batch is pinned once, and the exact-new docs with their
    * digest arrays once more. Each index read streams its files under
    * an explicit `broadcast` of a delta- or candidate-bounded key set
    * (semi-join), and only what survives the probe meets the delta
    * side. So an index is never shuffled, whatever the size estimates
    * say:
    *   - a digest's combined df = its delta count + the SUM of its
    *     matching df-partials (the partials are probed by the delta's
    *     digests and summed after the probe — the full (sh, df) table
    *     is probed, never re-aggregated);
    *   - candidates come from the shingle index probed by the RARE
    *     delta digests (combined df ≤ [[graft.llm.DedupQueries.RareDfCap]]);
    *   - the overlap evidence is the batch family's
    *     [[graft.llm.DedupQueries.pairOverlaps]] with the delta digests
    *     as the a side and only the CANDIDATE docs' index postings as
    *     the b side, so n_a counts the delta digests and n_b those
    *     same candidate postings.
    * `NearDupIngestSpec` machine-checks this on the physical plans a
    * real ingest runs (index rows cross an exchange only as probe
    * hits), and on the logical plan ("no full-index aggregate",
    * store's text never scanned).
    */
  private[graft] def admitDocsFlow(spark: SparkSession, batch: DataFrame,
      storeDir: String, batchId: Long, pin: DataFrame => DataFrame,
      gate: DataFrame => DataFrame = identity): DataFrame = {
    val docs = pin(gate(normalizedDocs(batch)))
    val batchIds = broadcast(docs.select("doc_id"))

    // exact dedup, batch-internal (deterministic keeper) then vs index.
    // The index test is a PROBE, not an anti-join against the raw
    // index: a LeftAnti join can only broadcast its RIGHT side, so
    // `docs ⟕̸ fpIdx` would shuffle the ENTIRE fingerprint index every
    // micro-batch (O(index) shuffle — the join-shape twin of the
    // full-index aggregate). Instead the index is semi-joined down to
    // the batch's fingerprints first (the index STREAMS under a
    // broadcast of the delta keys — no index-side exchange), and the
    // anti-join's build side is then the delta-bounded hit set. The
    // replay self-exclusion by doc_id runs on the hit rows (semi and
    // anti are both row filters on the index, so they commute).
    val keeper = Window.partitionBy("fp").orderBy("doc_id")
    val docsFp = docs.withColumn("fp", exactFp(col("text")))
      .withColumn("rn", row_number().over(keeper)).where(col("rn") === 1)
    val hitFps = readIdx(spark, fpIdxDir(storeDir), fpSchema)
      .join(broadcast(docsFp.select("fp")), Seq("fp"), "left_semi")
      .join(batchIds, Seq("doc_id"), "left_anti").select("fp")
    // pinned: the exact-new docs carry their digests to every branch
    // below and, as survivors, to the index appends
    val exactNew = pin(docsFp.join(hitFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("text"), col("fp"),
        shingleDigestArray(col("text")).as("shs")))
    val deltaPost = exactNew.select(col("doc_id"), explode(col("shs")).as("sh"))

    // df cap over the COMBINED digests (delta + corpus), with the
    // corpus side read from the df-partials table: probe by the
    // delta's digests first (semi-join on sh), THEN sum the matched
    // partials — identical to counting over delta ∪ index, but the
    // aggregation input is delta-bounded.
    val deltaDf = deltaPost.groupBy("sh").agg(count(lit(1)).as("ddf"))
    val corpusDf = readIdx(spark, dfIdxDir(storeDir, ShingleK), dfSchema)
      .where(col("batch_id") =!= lit(batchId)) // replay self-exclusion
      .join(broadcast(deltaDf.select("sh")), Seq("sh"), "left_semi")
      .select("sh", "df")
    val rare = broadcast(deltaDf.join(corpusDf, Seq("sh"), "left")
      .groupBy("sh", "ddf").agg(sum(coalesce(col("df"), lit(0L))).as("cdf"))
      .where(col("ddf") + col("cdf") <= RareDfCap)
      .select("sh"))

    val shIdx = readIdx(spark, shIdxDir(storeDir, ShingleK), shSchema)
    val corpusRare = shIdx.join(rare, Seq("sh"), "left_semi")
      .join(batchIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("doc_b"), col("sh").as("sh_r"))
    // pinned: the candidate set feeds two branches (overlap pairs and
    // the candidate-doc probe for postings)
    val cand = pin(deltaPost.join(rare, "sh")
      .join(corpusRare, col("sh") === col("sh_r"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct())
    // candidate docs are corpus docs, never the batch's own ids
    val candB = broadcast(cand.select("doc_b").distinct())

    // the b side probes the index for CANDIDATE docs only; those rows
    // are every posting of every candidate doc, so they count n_b
    val candPost = shIdx.select(col("doc_id"), col("sh").as("sid"))
      .join(candB, col("doc_id") === col("doc_b"), "left_semi")
    val nearDup = jaccardVerified(pairOverlaps(cand,
        deltaPost.select(col("doc_id"), col("sh").as("sid")), candPost))
      .select(col("doc_a").as("doc_id")).distinct()
    exactNew.join(nearDup, Seq("doc_id"), "left_anti")
  }

  /** Run one micro-batch of the ingest against the compacted store at
    * `storeDir` (schema: doc_id, text — must exist, seeded or prior
    * batches). Returns the number of rows appended. Appends the
    * survivors to the store AND their digests to the fingerprint /
    * shingle indexes, all under the idempotent single-file protocol.
    *
    * The micro-batch is pinned once: admission and the funnel's n_in
    * both read that pin, so a foreachBatch source is evaluated once.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, storeDir: String,
      batchId: Long, gate: DataFrame => DataFrame = identity): Long = {
    // -1 is the bootstrap sentinel in the df-partials table; a batch
    // claiming it would silently exclude the ENTIRE bootstrap from
    // the df probe (admission then over-drops) and corrupt future
    // replay exclusion with its own -1-tagged partial. foreachBatch
    // ids are always >= 0.
    require(batchId >= 0, s"batchId must be >= 0 (-1 is the bootstrap sentinel): $batchId")
    ensureDocIdx(spark, storeDir, ShingleK)
    val raw = batch.localCheckpoint(false)
    val survivors = admitDocsFlow(spark, raw, storeDir, batchId,
      pin = _.localCheckpoint(false), gate = gate).localCheckpoint(false)
    // store first (see scaladoc: no-replay skew must fail toward a
    // future sweepable dup, never toward dropping novel content).
    // The df partials go LAST for the same reason: a crash before
    // their append can only leave df undercounted (more candidates,
    // exact verify unaffected), never a dropped novel doc.
    val n = rowsIn(spark,
      appendIdempotent(survivors.select("doc_id", "text"), storeDir, batchId))
    appendIdempotent(survivors.select("doc_id", "fp"), fpIdxDir(storeDir), batchId)
    val shNew = survivors.select(col("doc_id"), explode(col("shs")).as("sh"))
    appendIdempotent(shNew, shIdxDir(storeDir, ShingleK), batchId)
    appendIdempotent(
      shNew.groupBy("sh").agg(count(lit(1)).as("df")).withColumn("batch_id", lit(batchId)),
      dfIdxDir(storeDir, ShingleK), batchId)
    appendStats(spark, storeDir, batchId, raw.count(), n)
    n
  }

  /** Per-batch admission-funnel record — the operational signal a
    * live pipeline alarms on (a source whose admission rate collapses
    * to ~0 is a re-crawl; a rate stuck at 1.0 means the dedup index
    * broke). One row per batch — (batch_id, n_in, n_admitted) —
    * written by the same idempotent rename-replace as every other
    * side table, so replays overwrite their own record rather than
    * double-count, and the `.stats` directory folds under
    * [[compactStoreAndIndexes]]. It records RAW rows in vs docs
    * admitted, so n_in - n_admitted is everything removed, whatever
    * the reason. Counting n_in is one extra O(batch) pass over the
    * micro-batch input — the admitted cost class.
    */
  private def appendStats(spark: SparkSession, storeDir: String, batchId: Long,
      nIn: Long, nAdmitted: Long): Unit = {
    import spark.implicits._
    appendIdempotent(
      Seq((batchId, nIn, nAdmitted)).toDF("batch_id", "n_in", "n_admitted"),
      statsDir(storeDir), batchId)
    ()
  }

  /** Manifest-aware read of the admission-funnel records (empty, not
    * an error, before the first batch lands).
    */
  def ingestStats(spark: SparkSession, storeDir: String): DataFrame =
    readIdxOrEmpty(spark, statsDir(storeDir), statsSchema)

  /** [[ingestAlarms]]' default volume floor: smaller batches are never flagged. */
  val AlarmMinIn: Long = 100L

  /** [[ingestAlarms]]' low-rate threshold: at most 1/20 admitted. */
  private val LowRateDen = 20

  /** The alarm rule of [[ingestAlarms]] as one SQL `CASE` over `n_in`
    * and `n_admitted`, parsed by Spark here and by DuckDB in the
    * oracles of x_ingest_alarms and x_alarm_store.
    */
  private[graft] def alarmRuleSql(minIn: Long): String =
    s"""CASE WHEN n_in >= $minIn AND n_admitted * $LowRateDen <= n_in THEN 'low_admission'
       |              WHEN n_in >= $minIn AND n_admitted >= n_in THEN 'full_admission'
       |              END""".stripMargin

  /** The alarm the funnel table exists to feed: per batch, the
    * admission rate plus a classified `alarm` column —
    * `low_admission` (rate ≤ 1/20: the batch is a re-crawl or an
    * upstream replay storm), `full_admission` (every unit admitted: the
    * dedup index stopped rejecting anything, i.e. it broke or was
    * deleted without a rebuild), null otherwise. Batches with fewer
    * than `minIn` units are never flagged — small batches legitimately
    * swing to 0/1 — and a zero-unit batch has a null rate. Thresholds
    * are compared as cross-multiplied exact integers
    * ([[alarmRuleSql]]); `rate` is the one evidence division. Pure
    * per-row arithmetic over the |batches|-row stats table —
    * monitoring-cost, not corpus-cost.
    */
  def ingestAlarms(stats: DataFrame, minIn: Long = AlarmMinIn): DataFrame = {
    require(minIn >= 0, s"bad alarm threshold: minIn = $minIn")
    stats.select(col("batch_id"), col("n_in"), col("n_admitted"))
      .withColumn("rate",
        col("n_admitted").cast("double") / nullif(col("n_in"), lit(0L)))
      .withColumn("alarm", expr(alarmRuleSql(minIn)))
  }

  private[graft] def alarmsDir(storeDir: String): String = storeDir + ".alarms"

  /** The scheduled consumer [[ingestAlarms]] exists to feed: a
    * Structured Streaming monitor that TAILS the funnel table (each
    * ingest batch lands as one new stats file — exactly what a file
    * source incrementalizes over), classifies each new row, and
    * appends the FLAGGED rows to the queryable `<store>.alarms` table
    * under the same idempotent single-file-per-batch protocol as
    * every other side table (so a monitor-batch replay can never
    * double an alarm row, and [[compactStoreAndIndexes]] folds the
    * accretion). `alarmLog` reads the result; an operator pages on
    * its rows, each carrying the full evidence (batch, counts, rate,
    * class).
    *
    * Scale shape: the source is the |batches|-row stats table and the
    * state is the file-source's seen-files log — monitoring-cost.
    * The stats directory must exist (seed the store with one ingest
    * batch, or create it) before the monitor starts: a file source
    * resolves its path eagerly.
    */
  def startAlarmMonitor(spark: SparkSession, storeDir: String,
      minIn: Long = AlarmMinIn): StreamingQuery = {
    val stats = spark.readStream.schema(statsSchema).parquet(statsDir(storeDir))
    ingestAlarms(stats, minIn)
      .where(col("alarm").isNotNull)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, monitorBatchId: Long) =>
        appendIdempotent(batch, alarmsDir(storeDir), monitorBatchId)
        ()
      }
      .start()
  }

  /** The queryable alarm table the monitor maintains — empty (with
    * the right schema) when no alarm has ever fired.
    */
  def alarmLog(spark: SparkSession, storeDir: String): DataFrame =
    readIdxOrEmpty(spark, alarmsDir(storeDir),
      statsSchema.add("rate", "double").add("alarm", "string"))

  /** Idempotent single-file append into `dir`, shared by the store and
    * every side table: the batch lands as ONE `ingest-<id>.parquet` via
    * [[UpsertSink.publishSingleFile]]'s rename-replace, so a
    * foreachBatch replay overwrites its own previous attempt and rows
    * never double. The publish creates `dir` (the stats table has no
    * bootstrap). Returns the published file.
    */
  private def appendIdempotent(rows: DataFrame, dir: String, batchId: Long): Option[Path] =
    UpsertSink.publishSingleFile(rows, Paths.get(dir), s"ingest-$batchId.parquet")

  /** Rows an append published: the row count in its one file's
    * parquet footer (no Spark job).
    */
  private def rowsIn(spark: SparkSession, published: Option[Path]): Long =
    published.fold(0L) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(p.toUri), spark.sparkContext.hadoopConfiguration))
      try reader.getRecordCount finally reader.close()
    }

  /** Single maintenance entry point: fold the store AND every sibling
    * index side table it has accreted (each gains one file per batch).
    * Discovery is by the directory-name contract (`<store>.fpidx`,
    * `.shidx-k*`, `.dfidx-k*`, `.stats`, `.alarms`), so a maintenance
    * job needs no knowledge of which k configs ran.
    * Safe concurrently with the stream: each directory's compaction is
    * independently atomic under the manifest+lease protocol, the
    * admission reads each dir through [[readIdx]] (manifest-aware),
    * and the df partials are aggregation-derived (sum), so folding
    * their files never changes a probe result —
    * `NearDupIngestSpec` pins admission exactness across it.
    */
  def compactStoreAndIndexes(spark: SparkSession, storeDir: String): Unit = {
    Compaction.compactParquet(spark, storeDir)
    val store = Paths.get(storeDir)
    val name = store.getFileName.toString
    // Exact suffix grammar, not a bare startsWith: a crashed
    // bootstrap's `<idx>.tmp` staging dir (with Spark's _temporary
    // inside) would otherwise match its index's prefix and abort the
    // whole sweep when compactParquet rejects the subdirectory — and
    // an unluckily-named sibling store (`t.fpidxfoo`) must never be
    // swept by `t`'s maintenance. A prefix-partitioned
    // `<store>.fpidx-p<h>`, a passage-digest index or a per-doc count
    // index `<store>.cntidx-k<k>` left by an older engine is neither
    // read nor compacted: no read path uses any of them, and the
    // first's subdirectories would abort the sweep.
    val exact = Set(".fpidx", ".stats", ".alarms").map(name + _)
    val parameterized = Seq(".shidx-k", ".dfidx-k").map(name + _)
    def ours(n: String): Boolean =
      exact(n) || parameterized.exists(p =>
        n.length > p.length && n.startsWith(p) && n.drop(p.length).forall(_.isDigit))
    Option(store.getParent).toSeq
      .flatMap(UpsertSink.subdirs(_, name)).filter(d => ours(d.getFileName.toString))
      .foreach(d => Compaction.compactParquet(spark, d.toString))
  }

  // ---------------------------------------------------------------
  // Batch-mode corpus sweep — the maintenance pass every documented
  // safe-direction skew points at ("dup admitted, swept later").
  // ---------------------------------------------------------------

  /** One-scan digest derivation for [[storeSweep]]: `(doc_id, fp, sid)`
    * rows — the exact-dedup fingerprint carried THROUGH the explode of
    * admission's shingle digests, so both digest families come out of
    * a single pass over the store's text. Docs shorter than the
    * shingle size keep one null-`sid` row (they participate in exact
    * dedup, and are out of near-dup candidate scope exactly like the
    * batch family). Exposed separately so the spec can assert the plan
    * scans the store exactly once.
    */
  private[graft] def sweepDigests(spark: SparkSession, storeDir: String): DataFrame =
    storeText(spark, storeDir)
      .select(col("doc_id"), exactFp(col("text")).as("fp"),
        explode_outer(shingleDigestArray(col("text"))).as("sid"))
      .distinct()

  /** Audit sweep over the store itself — the batch-tier x_dedup_corpus
    * decision run on the streaming store's compacted output, trusting
    * NO index (a torn crash window means the indexes may be missing
    * exactly the rows the sweep must find; the store text is the one
    * source of truth). Reports every doc the batch dedup family would
    * drop, with its reason:
    *   - `exact_dup`: same normalized fingerprint as a lower-id doc;
    *   - `near_dup`: verified rare-shingle Jaccard ≥ 0.8 against a
    *     lower-id doc (the family's 5·overlap ≥ 4·union integer test,
    *     df ≤ [[graft.llm.DedupQueries.RareDfCap]] candidates).
    * On a store built by a clean (no-crash) ingest run the sweep
    * returns EMPTY — admission already made these decisions per batch;
    * anything it finds is a documented safe-skew admission.
    *
    * Scale shape: the sweep is the O(corpus) maintenance job, so one
    * full text pass is its honest floor — and it takes exactly one:
    * the digest frame is pinned (narrow (doc_id, fp, sid) rows) and
    * every branch downstream is the digest-keyed x_dedup_corpus
    * dataflow (fp window for exact; rare-candidate equi-join + exact
    * verify for near). `NearDupIngestSpec` machine-asserts both halves
    * (one store scan in the digest plan; zero in the sweep plan).
    */
  def storeSweep(spark: SparkSession, storeDir: String): DataFrame = {
    val dg = sweepDigests(spark, storeDir).localCheckpoint(false)
    val fpTab = dg.groupBy("doc_id").agg(first("fp").as("fp"))
    val exact = fpTab
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), lit("exact_dup").as("reason"))
    val posts = dg.where(col("sid").isNotNull).select("doc_id", "sid")
    val near = jaccardVerified(pairOverlaps(rareShingleCandidates(posts), posts, posts))
      .select(col("doc_b").as("doc_id"), lit("near_dup").as("reason"))
      .distinct()
    exact.unionByName(near)
  }

  /** Start the composed flow: watermark-bounded exact dedup at the
    * edge (a one-hour event-time horizon), then the per-batch near-dup
    * ingest into `storeDir`.
    *
    * `gate` is the admission quality gate — a filter over the
    * normalized (doc_id, text) batch that runs BEFORE any index work,
    * so rejected docs never touch the fingerprint/shingle indexes and
    * cost nothing at the store. The intended plug-in is the batch
    * tier's own rule filter (e.g. [[graft.llm.CurationQueries
    * .gopherFilterDf]] kept=1 — the x_pipeline_gopher gate applied at
    * the stream edge); the default admits everything. Gate-rejected
    * rows fold into the `.stats` funnel's n_in − n_admitted like any
    * other removal, so [[ingestAlarms]] sees quality collapses too.
    */
  def start(spark: SparkSession, docs: DataFrame, storeDir: String,
      gate: DataFrame => DataFrame = identity): StreamingQuery =
    StreamingIngest.dedupWithinWatermark(
        docs.withColumn("fp", exactFp(col("text"))), Seq("fp"), "ts", "1 hour")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch.drop("fp"), storeDir, batchId, gate = gate)
        ()
      }
      .start()
}
