package graft

/** Pure validity arithmetic for the bench artifact, factored out of
  * the main so the gate policy is unit-pinnable without running a
  * bench. Policy (round 15, after round 14 produced NO valid
  * artifact on a degraded host):
  *
  *  - RUN FIRST, STAMP AFTER. The artifact is self-adjudicating by
  *    design, so blocking up to 5 minutes in an idle-wait loop buys
  *    nothing an external caller can afford — round 14's driver
  *    bench burned its whole window in the pre-wait on a host whose
  *    steal floor sat above the threshold, then timed out (rc=124)
  *    with no artifact at all. The pre-run wait is now a BOUNDED
  *    decay wait (LoadRetries × LoadSleepMs = 2 × 45 s,
  *    taken only when a probe is over threshold, extendable to 2×
  *    that while loadavg is still strictly falling) — it covers the
  *    launcher JVM's own loadavg decay, never minutes of starvation.
  *
  *  - STEAL IS A COVARIATE, NOT A GATE (except a catastrophic
  *    ceiling). Round 15 measured WHY the absolute 1.5% gate could
  *    never pass: steal on this host is a function of the guest's
  *    own load — 2.2–3.3% at idle, 19.9% under a 32-thread spin
  *    burn, 7.5% under the bench's mixed duty cycle (measured
  *    identically on two different days: 7.465% / 7.474%). An
  *    idle-calibrated excess gate is therefore structurally
  *    unmeetable too: the run's own work "bursts" past any idle
  *    floor. The honest design — the round-14 verdict's own
  *    fallback prescription — is to gate hard on what cleanly
  *    separates clean from contaminated runs (loadavg: other
  *    processes; write bandwidth: the dirty-page-tracking failure
  *    that actually degraded round 14), and EMIT steal as a
  *    continuous covariate (idle floor, loaded floor, whole-run,
  *    excess) so cross-round comparability is adjudicated from the
  *    artifact itself: two runs at similar floors compare; a run at
  *    a 20% loaded floor against one at 3% does not, and the JSON
  *    says so. Only a catastrophic whole-run ceiling (StealCeil, 25%)
  *    still invalidates — beyond it the guest was barely scheduled
  *    at all and per-query numbers are noise.
  *
  *  - RE-PROBE WRITE BANDWIDTH AT EMIT. Dirty-page write-tracking
  *    (the actual round-14 failure) can begin mid-run with
  *    near-zero steal; a start-only probe would stamp such a run
  *    valid. Both probes gate and both are emitted.
  */
object BenchGate {
  /** FROZEN calibration-workload parameters (round 16). The bench
    * times a deterministic, data-independent probe — range → hashed
    * key → groupBy-sum (one real exchange) → top-k — exactly like a
    * query and emits it as `calib_s`, EXCLUDED from `total`. Two
    * artifacts from different rounds then compare as `total/calib_s`
    * ratios, separating code-attributable change from host-capacity
    * drift (round 15's 1.67× uniform inflation vs round 13 was
    * adjudicated as host degradation only via out-of-band steal-floor
    * archaeology; the calib line puts that evidence IN the artifact).
    * These constants must never change: a different probe is a
    * different yardstick and silently re-baselines the renormalized
    * series. BenchGateSpec pins them.
    */
  val CalibRows: Long = 100000000L
  val CalibKeys: Long = 10000000L
  val CalibPartitions: Int = 64

  // FROZEN host-gate thresholds, pinned by BenchGateSpec: a loosened
  // gate would stamp `valid` on a run the fixed gate rejects.
  // loadavg, lowest clean read: other processes on the box.
  val MaxLoad: Double = 0.5
  // The looser allowance the POST-decay-wait loadavg read gates
  // against: residual self-load from a degenerately-timed startup may
  // legitimately read up to ~1 here, but contamination that ramped up
  // right after the entry-instant read — which the min-of-reads alone
  // would never see — reads its full magnitude and invalidates.
  val MaxLoadPost: Double = 1.0
  // Catastrophic whole-run steal ceiling (%), see the policy note.
  val StealCeil: Double = 25.0
  // Write bandwidth floor (GB/s) at both the start and emit probes.
  val MinWriteGBps: Double = 1.0
  // 2 x 45 s: a bounded DECAY wait, not the round-14 starvation loop.
  // The launcher JVM's startup burst alone reads ~1.3 on the 1-minute
  // loadavg (measured: 0.36 idle before launch, 1.27 at main() on an
  // otherwise-quiet host), and the exponential decay needs ~90 s to
  // fall back under the 0.5 gate — so with zero retries every artifact
  // self-invalidates on its own startup noise. Two 45 s retries (taken
  // only when a probe is actually over threshold) cover exactly that
  // decay; a genuinely busy host still runs after 90 s and stamps
  // invalid.
  val LoadRetries: Int = 2
  val LoadSleepMs: Long = 45000L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The host-health component of the artifact's validity stamp.
    * Any unreadable probe (-1) invalidates: a run whose contention
    * can't be observed can't be trusted either.
    *
    * TWO loadavg reads gate (round 16, closing the r15 ADVICE hole):
    * `loadMin` — the lowest clean read (entry-instant vs post-wait;
    * the run's own startup burst is not host contention) against the
    * strict `MaxLoad`; and `loadPost` — the post-decay-wait read —
    * against a looser `MaxLoadPost` allowance for residual self-load.
    * Gating only the min let contamination that ramps up seconds
    * after launch (entry read idle-clean, host loaded for the whole
    * run) stamp valid under the very gate the policy makes primary.
    */
  def hostValid(loadMin: Double, loadPost: Double, stealRun: Double,
      writeStart: Double, writeEnd: Double): Boolean =
    loadMin >= 0 && loadMin <= MaxLoad &&
      loadPost >= 0 && loadPost <= MaxLoadPost &&
      stealRun >= 0 && stealRun <= StealCeil &&
      writeStart >= MinWriteGBps && writeEnd >= MinWriteGBps
}

object Bench {
  /** 1-minute load average — the bench self-reports host contention so
    * a contaminated artifact is identifiable from the JSON alone
    * (this host's timings skew 2-3×+ when anything else runs).
    * `loadavg_start` is the contention indicator (≈0 on an idle host);
    * `loadavg_end` additionally reflects the bench's own 32-thread
    * work and is only useful relative to start.
    */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Aggregate (steal, total) jiffies from /proc/stat's cpu line —
    * the raw counters behind CPU-steal measurement. None if unreadable.
    */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.find(_.startsWith("cpu ")).get.trim
        .split("\\s+").drop(1).map(_.toLong)
      Some((f.lift(7).getOrElse(0L), f.sum))
    } catch { case _: Throwable => None }

  /** CPU-steal percentage over a short sampling window — HYPERVISOR
    * contention, which the loadavg gate is structurally blind to:
    * loadavg counts THIS guest's runnable tasks, steal counts the
    * cycles the host gave someone else. Round 14's regate bench passed
    * the loadavg gate at 0.36 yet came out ~1.7× slower than its
    * replicate; the adjudication found 4–12% steal and page-fault
    * stalls (a 2 GB in-memory copy took minutes) — an artifact that
    * was invalid for comparison with nothing in its JSON saying so.
    * Now both dimensions gate, and both are emitted.
    */
  private def stealPct(windowMs: Long = 2000): Double = {
    val a = cpuJiffies()
    Thread.sleep(windowMs)
    (a, cpuJiffies()) match {
      case (Some((s1, t1)), Some((s2, t2))) if t2 > t1 =>
        100.0 * (s2 - s1) / (t2 - t1)
      case _ => -1.0
    }
  }

  /** Steal percentage while this guest runs an all-core spin burn —
    * the LOADED floor, i.e. how much of the CPU it asks for the
    * hypervisor actually grants. On this host the idle floor reads
    * 2–3% while the loaded floor reads ~20%: steal here is a
    * function of the guest's own demand, which is why whole-run
    * steal is emitted as a covariate for cross-round adjudication
    * (two artifacts at similar floors compare; dissimilar floors
    * mean dissimilar host capacity and the JSON shows it) rather
    * than gated against an idle-calibrated threshold the run's own
    * work would always breach.
    */
  private def stealUnderLoad(windowMs: Long = 2000): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to Runtime.getRuntime.availableProcessors).map { _ =>
      val t = new Thread(() => { var x = 0L; while (!stop.get()) x += 1; if (x == -1) println(x) })
      t.setDaemon(true); t.start(); t
    }
    try { Thread.sleep(500); stealPct(windowMs) } // 500 ms ramp before sampling
    finally { stop.set(true); threads.foreach(_.join(1000)) }
  }

  /** Memory WRITE bandwidth (GB/s) over a fresh 256 MB buffer — the
    * direct detector for hypervisor dirty-page write-tracking
    * (live-migration/snapshot mode), the round-14 failure the other
    * two gates can miss: reads ran at 17.8 GB/s and the CPU was clean
    * while a 2 GB in-memory COPY took 351 s (≈0.01 GB/s), and every
    * allocation-heavy Spark stage ran 2–4× slow. A fresh buffer makes
    * every page a first-touch fault + write, exactly the degraded
    * path. Healthy bare/VM hosts measure >2 GB/s; write-tracking
    * collapses this by orders of magnitude, not percentages.
    */
  private def writeGBps(): Double =
    try {
      val buf = new Array[Byte](256 * 1024 * 1024)
      val t0 = System.nanoTime()
      java.util.Arrays.fill(buf, 1.toByte)
      val dt = (System.nanoTime() - t0) / 1e9
      if (buf(12345) == 1 && dt > 0) 0.25 / dt else -1.0
    } catch { case _: Throwable => -1.0 }

  /** Bounded decay-wait before the run (2 x 45 s, taken only when a
    * probe is over threshold — see BenchGate.LoadRetries),
    * TREND-AWARE since round 16: after the base retries are spent,
    * waiting continues — up to the same budget again (2 x retries
    * sleeps total) — only while loadavg is BOTH still over the gate
    * AND strictly falling. The round-15 driver run read 1.15 after
    * 90 s with the decay still in progress and stamped itself
    * invalid on pure startup noise; a flat or rising loadavg is real
    * contention and stops the wait immediately.
    * This is NOT round 14's starvation loop: that one defaulted to
    * 5 x 60 s against a threshold the host could never meet and cost
    * the round its artifact (driver rc=124); this one covers exactly
    * the launcher JVM's own loadavg decay (worst case 4 x 45 s), and
    * a genuinely busy host still runs after it and stamps itself
    * invalid.
    */
  private def awaitIdleHost(stealFloor: Double): (Double, Double, Double) = {
    import BenchGate.{LoadRetries, LoadSleepMs, MaxLoad, MinWriteGBps, StealCeil}
    var load = loadAvg()
    var steal = stealPct()
    var write = writeGBps()
    var waits = 0
    var prevLoad = Double.MaxValue
    val hardCap = LoadRetries * 2
    def busy = load > MaxLoad || steal - stealFloor > StealCeil || write < MinWriteGBps
    while (busy && (waits < LoadRetries || (waits < hardCap && load > MaxLoad && load < prevLoad))) {
      System.err.println(f"bench: host busy (loadavg $load%.2f vs $MaxLoad%.2f, steal $steal%.1f%% vs floor $stealFloor%.1f%%+$StealCeil%.1f%%, write $write%.2f GB/s vs min $MinWriteGBps%.2f), waiting ${LoadSleepMs / 1000}s (wait ${waits + 1}/$hardCap)")
      prevLoad = load
      Thread.sleep(LoadSleepMs)
      load = loadAvg()
      steal = stealPct()
      write = writeGBps()
      waits += 1
    }
    (load, steal, write)
  }

  def main(args: Array[String]): Unit = {
    // Sampled at the earliest possible instant: by the time main()
    // runs, the launcher JVM's own startup burst (classpath scan,
    // JIT) has already pushed the 1-minute loadavg to ~1.3 from an
    // idle 0.3 — this read is the least self-polluted one available
    // and participates in the min() below.
    val loadFirst = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query-name filter for targeted profiling
    // (e.g. SPARK_GRAFT_ONLY=j_role_playing,x_embed_neardup). Unset →
    // the full registry, which is the only mode whose total is the
    // round's comparable number.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Where to persist the full artifact. The driver's BENCH_r*.json
    // keeps only a truncated log tail (r09 lost 47 of 108 per-query
    // timings), so the bench also writes its complete JSON line to a
    // file the builder commits per round (bench/roundN.json) — per-query
    // regression attribution needs the full history, not the tail.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "")
    // Probe BEFORE the SparkSession spins up its own threads: by
    // the time the warm-up runs, loadavg and steal already reflect
    // us, not the host. Policy is run-first/stamp-after (BenchGate):
    // the pre-run wait is a bounded 2 x 45 s decay wait (trend-
    // extendable to 4 x 45 s while loadavg is still falling), taken
    // only when a probe is over threshold — an unattended caller on
    // a clean host pays ~8 s of calibration, never minutes.
    // Host-capacity calibration, both emitted as covariates: the idle
    // floor (median of 3 x 2 s samples while this process is still
    // single-threaded — the structural hypervisor tax, 2-3% here) and
    // the loaded floor (steal under a brief all-core spin burn — what
    // the hypervisor actually grants under full demand, ~20% here).
    // NOTE: loadavg is sampled BEFORE the burn (inside awaitIdleHost
    // ordering below the floors would see the burn's own load).
    val stealFloor = BenchGate.median(Seq.fill(3)(stealPct()))
    val stealFloorLoaded = stealUnderLoad()
    val (loadStart0, stealStart, writeStart) =
      awaitIdleHost(stealFloor)
    // The calibration burn and the launcher's startup both nudge the
    // 1-minute loadavg; the wait loop above lets that self-load
    // decay, and the artifact is charged the LOWEST clean read (its
    // own work is not host contention).
    val loadStart = if (loadFirst >= 0) math.min(loadFirst, loadStart0) else loadStart0
    // Whole-run steal: absolute counters here vs at emit time — the
    // per-artifact certificate that no hypervisor burst landed MID-run
    // (the start gate alone can't promise that).
    val jiffiesStart = cpuJiffies()
    // Shuffle partitions are sized to the DATA via SessionTuning: the
    // core count at the sf0.01-sf1 working set (input fits cores x
    // ~1.5MiB slices) and full waves of cores past that — at sf10 the
    // heuristic lands on the 96 the quiet-host sweep measured as the
    // point where the whole build chain goes ≈linear-or-better
    // (TESTDATA.md round-13 wave; 32 partitions x 8g heap OOM'd
    // pairs_build's candidate expansion there).
    // The env override marks the artifact invalid-for-comparison below
    // (a non-default partitions run is a DIFFERENT config — the very
    // knob the sf10 sweep showed changes OOM/runtime behavior), and the
    // effective value is emitted in the JSON either way so every
    // artifact is self-describing. The adaptive default is NOT an
    // override: it is a pure function of (cores, input bytes), so two
    // default-config runs at the same sf are still comparable.
    val partitionsOverridden = sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    // A non-default master (env or spark-submit) is a different
    // execution topology — real executor JVMs, network shuffle — so it
    // also invalidates the artifact for cross-round comparison (and is
    // emitted in the JSON).
    val masterOverridden =
      sys.env.contains("SPARK_GRAFT_MASTER") || sys.props.contains("spark.master")
    val spark = SessionTuning.session(sfDir)
    val cpus = SessionTuning.cpus()
    val master = spark.sparkContext.master
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // Bootstrap warm-up + shared index, GUARDED like the query loop:
    // a broken loader here (e.g. regenerated testdata the scan
    // rejects) must still produce the JSON artifact below with
    // `"valid": false` — an uncaught throw at this point would erase
    // the bench number for the round, the exact failure mode the
    // failures/errors machinery exists to prevent.
    var failures = List.empty[String]
    // Warm-up initializes codegen/shuffle/scan machinery once so the
    // first timed query isn't charged Spark's cold start.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case e: Throwable =>
      failures ::= s"warmup: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    // Deterministic, data-independent CALIBRATION probe (BenchGate's
    // frozen parameters): range → multiplicative-hash key → groupBy
    // sum/count (a real 10M-group exchange with partial agg) →
    // top-k. Timed exactly like a query (best-of-2 min after the
    // warm-up above), EXCLUDED from `total`, emitted as `calib_s` —
    // plus a single end-of-run sample (`calib_end_s`) so mid-run
    // host drift is visible in the artifact too. Cross-round totals
    // compare as total/calib_s ratios; see BenchGate's policy note.
    def calibOnce(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        spark.range(0L, BenchGate.CalibRows, 1L, BenchGate.CalibPartitions)
          .selectExpr(s"(id * 2654435761) % ${BenchGate.CalibKeys} AS k", "id")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("id").as("s"),
            org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("c"))
          .orderBy(org.apache.spark.sql.functions.col("s").desc, org.apache.spark.sql.functions.col("k"))
          .limit(1000)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failures ::= s"calib: ${e.getClass.getSimpleName}: ${e.getMessage}"
        -1.0
      }
    }
    val calibA = calibOnce()
    val calibB = if (calibA >= 0) calibOnce() else calibA
    val calibS = if (calibA < 0 || calibB < 0) -1.0 else math.min(calibA, calibB)
    // Every shared once-per-(JVM, sf-dir) artifact is built HERE, each
    // as its own metric line: the shingle postings (dedup family), the
    // near-dup CC labeling (nine consumers), and the two kNN edge-set
    // configs (seven consumers). Per-query numbers below are therefore
    // warm-artifact, and each one-time cost is reported instead of
    // landing in — and being min()'d out of — the first consumer's
    // first sample. On failure the elapsed time is time-to-exception —
    // meaningless as a build cost — so the line is EXCLUDED from
    // queries/total (the failure is named in `errors` and the run
    // marked invalid).
    // Order matters: each line is warm in everything the earlier lines
    // built (pairs_build reads the postings; cc_build reads the pairs;
    // the per-config knn builds slice the pooled sketch), so every
    // build line prices exactly its OWN marginal work.
    // Builders return their artifact's ROW COUNT: the scaling-exponent
    // measurements (TESTDATA.md) need seconds AND output rows side by
    // side, and the count() was already being forced for the build.
    val artifactBuilders: Seq[(String, () => Long)] = Seq(
      "index_build" -> (() => llm.SharedIndex.sidPostings(spark, sfDir).count()),
      "pairs_build" -> (() => llm.DedupQueries.rareOverlaps(spark, sfDir).count()),
      "cc_build" -> (() => llm.DedupQueries.ccLabels(spark, sfDir).count()),
      "cc_base_build" -> (() => llm.DedupQueries.baseLabels(spark, sfDir).count()),
      "knn_sketch_build" -> (() => llm.SimilarityQueries.knnSketchDf(spark, sfDir).count()),
      "knn_build_b4" -> (() => llm.SimilarityQueries.knnEdgesDf(spark, sfDir, 4, 8, 5).count()),
      "knn_build_b6" -> (() => llm.SimilarityQueries.knnEdgesDf(spark, sfDir, 6, 8, 5).count()),
      // The ADAPTIVE-r edge build (planesFor law), priced AFTER the
      // frozen b4/b6 comparables so those lines' history is
      // untouched: at sf0.1 planesFor resolves to the same r=8
      // config, so this line prices exactly the adaptive path's
      // MARGINAL cost (the corpus count() + a warm-artifact count) —
      // near zero today, which is the point: the line exists so the
      // adaptive path has bench history BEFORE a >sf0.1 scale point
      // (where r diverges and this builds a real standalone sketch)
      // ever enters the regular bench.
      "knn_build_rlaw" -> (() => {
        val r = llm.SimilarityQueries.planesFor(Tables.embeddings(spark, sfDir).count())
        llm.SimilarityQueries.knnEdgesDf(spark, sfDir, 4, r, 5).count()
      }),
      "bpe_build" -> (() => llm.TextQueries.bpeBuildDf(spark, sfDir).count()),
      "tok_build" -> (() => llm.TextQueries.tokFrame(spark, sfDir).count()))
    // Build lines carry per-entry loadavg exactly like registry
    // queries, so `query_loadavg` is keyed identically to `queries`
    // (r11's artifacts omitted the build lines from the load map).
    val buildResults: Seq[(String, (Double, Double, Long))] = artifactBuilders.flatMap { case (name, build) =>
      val loadBefore = loadAvg()
      val t0 = System.nanoTime()
      try {
        val rows = build()
        Some(name -> (((System.nanoTime() - t0) / 1e9), loadBefore, rows))
      }
      catch { case e: Throwable =>
        failures ::= s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    }
    val builds: Map[String, Double] = buildResults.map { case (n, (secs, _, _)) => n -> secs }.toMap
    // Best-of-2 per query (best-of-3 when the first two disagree >3×):
    // this host's timings vary 2-3× run to run under identical plans,
    // so a single sample is mostly noise. The first run also pays
    // one-time Janino codegen; the min of the samples is the stable,
    // comparable signal. A >3× spread between two samples of the SAME
    // plan is the contention signature — one extra sample keeps one
    // unlucky scheduling slice from defining the query's number.
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // Per-query contention evidence: loadavg is sampled immediately
    // BEFORE each query's samples and emitted beside its timing
    // (`query_loadavg` below). The start-of-run gate can only certify
    // the first query — r10's artifact was gated valid yet carried six
    // mid-run contention spikes that needed an out-of-band idle-host
    // re-run to adjudicate. With a per-entry load, a spiked timing
    // carries its own evidence: {secs: 7.05, load: 4.1} self-identifies
    // as contention, {secs: 7.05, load: 0.2} as a plan regression.
    // (1-minute loadavg lags the bench's own work by design — it is a
    // CONTENTION indicator relative to its neighbors, not a utilization
    // gauge; entries early in the run sit near loadavg_start, and a
    // burst shows as a step change against surrounding entries.)
    val results = selected.map { case (name, fn) =>
      val loadBefore = loadAvg()
      def once(): Double = {
        spark.catalog.clearCache() // queries are independent; don't let one query's index GC-pressure the next
        val t0 = System.nanoTime()
        // noop sink: materializes EVERY column of every row (count()
        // would let Catalyst prune the very projections being timed)
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch {
          case e: Throwable =>
            failures ::= s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
      val a = once()
      // Always take the second sample: on this host a slow FIRST run is
      // usually contention noise, exactly when sample two is the signal.
      val b = if (a >= 0) once() else a
      val samples =
        if (a < 0 || b < 0) Seq(a, b)
        else if (math.max(a, b) > 3 * math.min(a, b)) Seq(a, b, once())
        else Seq(a, b)
      name -> ((if (samples.exists(_ < 0)) -1.0 else samples.min), loadBefore)
    }
    // A broken query must fail the bench LOUDLY — but it must not
    // erase the artifact: an aborted run leaves NO number at all (that
    // cost two consecutive rounds their bench when one loader broke).
    // So: print every failure to stderr, emit the JSON line anyway with
    // the broken queries EXCLUDED from `queries`, named in `errors`,
    // and the whole line marked `"valid": false` — parseable,
    // self-adjudicating, impossible to mistake for a clean total.
    failures.reverse.foreach(f => System.err.println(s"bench: FAILED $f"))
    val ok = results.collect { case (n, (secs, _)) if secs >= 0 => n -> secs }
    val loadEnd = loadAvg()
    val stealRun = (jiffiesStart, cpuJiffies()) match {
      case (Some((s1, t1)), Some((s2, t2))) if t2 > t1 => 100.0 * (s2 - s1) / (t2 - t1)
      case _ => -1.0
    }
    val qs = (ok ++ builds)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Sibling map keyed identically to `queries` — build lines
    // included (kept separate so the driver's name→seconds contract
    // for `queries` is untouched).
    val loads = (results.collect { case (n, (secs, load)) if secs >= 0 => n -> load } ++
        buildResults.map { case (n, (_, load, _)) => n -> load })
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Build-artifact row counts, for the scaling tables in TESTDATA.md.
    val buildRows = buildResults.map { case (n, (_, _, rows)) => s"\"" + n + "\":" + rows }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ").replaceAll("[\\p{Cntrl}]", "?") + "\""
    val total = ok.values.sum + builds.values.sum
    // Emit-time write-bandwidth re-probe: dirty-page write-tracking
    // (the round-14 failure) can begin MID-run with near-zero steal —
    // a start-only probe would stamp such a run valid.
    val writeEnd = writeGBps()
    // One end-of-run calibration sample: side-by-side with calib_s
    // it shows whether host capacity drifted DURING the run (the
    // start-gated r10 artifact needed an out-of-band re-run to
    // adjudicate exactly this).
    val calibEndS = calibOnce()
    // errors is serialized AFTER the end-of-run probes so a failed
    // calib_end sample is named in the artifact, not just stderr.
    val errs = failures.reverse.map(jstr).mkString("[", ",", "]")
    // Validity = the run was internally clean: no other processes
    // (loadavg, gated at BOTH the min-of-reads and the post-wait
    // read), no memory-write collapse at either probe, nothing
    // failed, no config overrides, and whole-run steal below the
    // catastrophic ceiling. Steal floors/run/excess and the calib
    // pair are emitted as covariates for cross-round comparability
    // adjudication — see BenchGate's policy note.
    val allValid = failures.isEmpty && results.size == ok.size &&
      only.isEmpty && !partitionsOverridden && !masterOverridden &&
      BenchGate.hostValid(loadStart, loadStart0, stealRun, writeStart, writeEnd)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_loadavg":$loads,"build_rows":$buildRows,"sf":"$sfDir","cpus":$cpus,"master":${jstr(master)},"shuffle_partitions":$shufflePartitions,"calib_s":$calibS,"calib_end_s":$calibEndS,"loadavg_start":$loadStart,"loadavg_post_wait":$loadStart0,"loadavg_end":$loadEnd,"steal_pct_floor":$stealFloor,"steal_pct_floor_loaded":$stealFloorLoaded,"steal_pct_start":$stealStart,"steal_pct_run":$stealRun,"steal_pct_excess_run":${stealRun - stealFloor},"write_gbps_start":$writeStart,"write_gbps_end":$writeEnd,"n_queries":${ok.size},"n_failed":${results.size - ok.size},"errors":$errs,"valid":$allValid}"""
    println(line)
    if (outFile.nonEmpty)
      try {
        val p = java.nio.file.Paths.get(outFile)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(p, line + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"bench: could not write $outFile: ${e.getMessage}")
      }
    // Fixed-size summary as the LAST stdout line: the driver's
    // BENCH_r*.json keeps a truncated log TAIL, which cuts the head
    // off the full line above (r14/r15: rc=0 runs still parsed null)
    // — this line is small enough to always survive the tail window,
    // so every driver artifact carries at least total/valid/calib.
    println(s"""{"metric":"total","value":$total,"unit":"sec","summary":true,"sf":"$sfDir","n_queries":${ok.size},"n_failed":${results.size - ok.size},"calib_s":$calibS,"calib_end_s":$calibEndS,"loadavg_start":$loadStart,"loadavg_post_wait":$loadStart0,"steal_pct_run":$stealRun,"write_gbps_end":$writeEnd,"valid":$allValid}""")
    spark.stop()
    // Non-zero exit preserves the loud-failure contract for callers
    // that check rc — the artifact above is still on stdout.
    if (failures.nonEmpty) sys.exit(3)
  }
}
