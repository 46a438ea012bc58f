package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-adaptive shuffle-partitions heuristic against the
  * MEASURED sweet spots from the sf10 probe (TESTDATA.md round-13
  * wave): 32 (= cores) is right for every working set up through sf1,
  * 96 (= 3 waves of 32) is where the sweep found the sf10 build chain
  * goes ≈linear-or-better, and 256 overshoots. The heuristic must
  * resolve to exactly today's measured values at today's scales — an
  * sf0.1 bench under the adaptive default has to be byte-comparable to
  * every pre-adaptive round — and keep growing in full waves of cores
  * past them. Also pins the session's master/cpus resolution order, and
  * two one-mechanism rules over the engine's main sources:
  * `SessionTuning.session` is the only session builder, and
  * `UpsertSink.publishSingleFile` the only single-file parquet publish.
  */
class SessionTuningSpec extends AnyFunSuite {
  import SessionTuning._

  private val MiB = 1024L * 1024L

  test("core floor: every driver test scale resolves to the core count") {
    // Real on-disk sizes of the driver's sf dirs (sf0.001 ≈ 0.45 MiB,
    // sf0.01 ≈ 1.8 MiB, sf0.1 ≈ 16.7 MiB) all sit at or under
    // cores × 1.5 MiB for the harness core counts.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val bytes = inputBytes(s"/root/testdata/$sf")
      assert(bytes > 0, s"$sf dir unreadable — inputBytes saw nothing")
      assert(shufflePartitionsFor(32, bytes) === 32, s"at $sf, 32 cores")
    }
    // Verify's default 4-core session stays at 4 for sf0.01 (the
    // driver's correctness scale): ~1.8 MiB = 2 slices <= 4 cores.
    assert(shufflePartitionsFor(4, inputBytes("/root/testdata/sf0.01")) === 4)
  }

  test("sf1/sf10 land on the measured sweep points") {
    // sf1 ≈ 10x the text/embedding tables of sf0.1 ≈ 29 MiB: 20 slices,
    // still under the 32-core floor — the scale where 32 measured right.
    assert(shufflePartitionsFor(32, 29 * MiB) === 32)
    // sf10 ≈ 122 MiB compressed input: 82 slices -> 3 full waves = 96,
    // exactly the sweep's optimum (32 OOM'd, 256 overshot).
    assert(shufflePartitionsFor(32, 122 * MiB) === 96)
  }

  test("full waves: a partial last wave rounds up, never down") {
    // 33 slices on 32 cores is 2 waves (64), not 33: a lone 33rd task
    // would idle 31 cores without shrinking anyone's slice.
    assert(shufflePartitionsFor(32, 33 * TargetSliceBytes) === 64)
    // Exactly one wave stays one wave.
    assert(shufflePartitionsFor(32, 32 * TargetSliceBytes) === 32)
    // 100 TB-class input: ~66.7M slices, rounded to a whole wave —
    // linear in data, no Int overflow, always a multiple of cores.
    val p = shufflePartitionsFor(32, 100L * 1000 * 1000 * 1000 * 1000)
    assert(p % 32 === 0 && p > 2000000)
  }

  test("inputBytes: recursive over part-dirs, 0 for unreadable paths") {
    val dir = llm.SharedIndex.tempDir("tuning").toFile
    val sub = new java.io.File(dir, "table.parquet"); sub.mkdirs()
    Files.write(new java.io.File(sub, "part-0").toPath, new Array[Byte](1000))
    Files.write(new java.io.File(dir, "flat.parquet").toPath, new Array[Byte](500))
    assert(inputBytes(dir.getAbsolutePath) === 1500L)
    assert(inputBytes("/no/such/dir") === 0L)
    // Degradation contract: unreadable input sizes to the core floor.
    assert(shufflePartitionsFor(32, 0L) === 32)
  }

  test("bad sizing inputs fail loudly, not with a zero-partition session") {
    intercept[IllegalArgumentException](shufflePartitionsFor(0, 1000L))
    intercept[IllegalArgumentException](shufflePartitionsFor(32, 1000L, 0L))
  }

  private val nproc = Runtime.getRuntime.availableProcessors

  test("master resolution: SPARK_GRAFT_MASTER > spark.master > local[SPARK_GRAFT_CPUS] > local[nproc]") {
    val env = Map("SPARK_GRAFT_MASTER" -> "spark://env:7077", "SPARK_GRAFT_CPUS" -> "3")
    val props = Map("spark.master" -> "local-cluster[2,1,1024]")
    assert(master(env, props) === "spark://env:7077")
    assert(master(env - "SPARK_GRAFT_MASTER", props) === "local-cluster[2,1,1024]")
    assert(master(env - "SPARK_GRAFT_MASTER", Map.empty) === "local[3]")
    assert(cpus(env) === 3)
  }

  test("nothing set: local[nproc], never the old hard-coded local[32]") {
    assert(cpus(Map.empty) === nproc)
    assert(master(Map.empty, Map.empty) === s"local[$nproc]")
  }

  /** Main sources (relative paths) other than `owner` that contain `needle`
    * (`owner = ""` exempts none).
    */
  private def mainSourcesWith(needle: String, owner: String): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing — the guard would be vacuous")
    val w = Files.walk(root)
    try w.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toList
    finally w.close()
  }

  /** `file:line` of every main-source line that contains `needle`. */
  private def mainLinesWith(needle: String): List[String] =
    mainSourcesWith(needle, owner = "").flatMap { f =>
      Files.readAllLines(Paths.get("src/main/scala", f)).asScala.zipWithIndex
        .collect { case (l, i) if l.contains(needle) => s"$f:${i + 1}" }
    }

  test("one session builder: SparkSession.builder only in SessionTuning.scala") {
    val offenders = mainSourcesWith("SparkSession.builder", "SessionTuning.scala")
    assert(offenders.isEmpty,
      s"build sessions through SessionTuning.session, not a new builder in: $offenders")
  }

  test("one single-file publish path: the part-file lookup only in UpsertSink.scala") {
    val offenders = mainSourcesWith("startsWith(\"part-\")", "UpsertSink.scala")
    assert(offenders.isEmpty,
      s"publish one-file parquet through UpsertSink.publishSingleFile, not in: $offenders")
  }

  test("one text normalization: the whitespace collapse only in TextOps.scala") {
    val offenders = mainSourcesWith("\"\\\\s+\", \" \")", "TextOps.scala")
    assert(offenders.isEmpty,
      s"normalize through TextOps.normText / exactFp, not a spelled-out copy in: $offenders")
  }

  test("one word-gram kernel and one exact-dup key: StringShingles, gramHashes, exactFp") {
    val nowhere = Seq("lead(\"tok\"", "sequence(lit(1), size(col(\"toks\"))", "partitionBy(md5(")
      .flatMap(n => mainSourcesWith(n, owner = "").map(f => s"$f: $n"))
    val hashes = mainSourcesWith("gramHash(", "TextOps.scala").map(f => s"$f: gramHash(")
    assert(nowhere.isEmpty && hashes.isEmpty,
      "build gram strings with StringShingles, gram hashes with TextOps.gramHashes and " +
        s"exact-dup partitions with TextOps.exactFp, not in: ${nowhere ++ hashes}")
  }

  test("one pair-evidence kernel: one overlap join, one MinHash signature, one method overlay") {
    val dedup = "graft/llm/DedupQueries.scala"
    val overlap = mainLinesWith(".as(\"overlap\")")
    val zips = mainLinesWith("A.zip(B)")
    val outer = mainLinesWith("\"full_outer\"").filter(_.startsWith(dedup + ":"))
    assert(overlap.size == 1 && overlap.forall(_.startsWith(dedup + ":")) &&
        zips.size == 2 && outer.size == 1,
      "join overlap evidence through DedupQueries.pairOverlaps, build signatures with " +
        "minhashSig (and its SQL twin minhashSigSqlCols), overlay pair sets with " +
        s"pairSetOverlay; found overlap $overlap, A.zip(B) $zips, full_outer $outer")
  }

  test("one curation kernel: one exact-dup keeper, one Gopher rule, one bench-gram set, one shard packer") {
    val keepers = mainLinesWith("partitionBy(exactFp(")
    val wordCaps = mainLinesWith("maxWords")
    val benchSets = mainLinesWith(".as(\"ng\")).distinct()")
    val shards = mainSourcesWith("cum_tokens - ", "Relational.scala")
    assert(keepers.size == 1 && wordCaps.isEmpty && benchSets.size == 1 && shards.isEmpty,
      "keep exact dups with TextOps.exactKeepers, gate with a CurationQueries.GopherRule, " +
        "derive bench grams with CurationQueries.benchGrams and shards with " +
        s"Relational.packCumSum; found keepers $keepers, maxWords $wordCaps, " +
        s"bench-gram sets $benchSets, shard expressions in $shards")
  }

  test("one event-stream kernel: one session index, one time band, one as-of oracle") {
    val sessionSql = mainSourcesWith("date_diff('millisecond', lag(ts)", "Sessionize.scala")
    val bands = mainLinesWith("- pmod(")
    val asof = mainLinesWith("FROM a ASOF LEFT JOIN")
    val gaps = mainLinesWith("1800000L").filter(_.startsWith("graft/pipelines/AnalyticsQueries.scala:"))
    assert(sessionSql.isEmpty && bands.size == 1 && asof.size == 1 && gaps.isEmpty,
      "index sessions in SQL with Sessionize.sessionIndexedSql, band time with " +
        "IntervalJoin.bandOf, share the as-of oracle and read gaps from Sessionize.GapMs; " +
        s"found session CTEs in $sessionSql, bands $bands, as-of oracles $asof, gap literals $gaps")
  }

  test("one media kernel: one decode boundary, one hex byte, one frame count, one carrier rescale, one chunk count, one CUSTOMFIELDS record") {
    val boundaries = mainLinesWith(".grouped(")
    val hexBytes = mainLinesWith("lpad(hex(")
    val frameCounts = mainLinesWith("% 24")
    val rescales = mainLinesWith("element_at(col(\"features\"), 9)")
    val chunkCounts = mainLinesWith("END AS max_k")
    val eav = mainSourcesWith("FIELD_NAME", "Relational.scala")
    assert(boundaries.size == 1 && hexBytes.size == 1 && frameCounts.size <= 3 &&
        rescales.size == 1 && chunkCounts.size == 1 &&
        chunkCounts.forall(_.startsWith("graft/llm/CurationQueries.scala:")) && eav.isEmpty,
      "decode through MediaDecode.decodeBatches, build hex bytes with hexByte, count frames " +
        "with nFramesOf / nFramesSql (the stub keeps its own copy), rescale carrier features " +
        "in pixelCarrier, count chunks with CurationQueries.chunkCountSql and build EAV entries " +
        s"with Relational.customFields; found boundaries $boundaries, hex bytes $hexBytes, " +
        s"frame counts $frameCounts, rescales $rescales, chunk counts $chunkCounts, " +
        s"FIELD_NAME in $eav")
  }

  test("one oracle twin per text and vector kernel") {
    val textOps = "graft/llm/TextOps.scala:"
    val copies = Seq("'[a-z0-9]+'", "s+', ' ', 'g')", "round(CAST(x AS DOUBLE) *",
        "list_sum(list_transform(generate_series(1, len(")
      .map(n => n -> mainLinesWith(n).filterNot(_.startsWith(textOps)))
      .filter(_._2.nonEmpty)
    val planeDots = mainLinesWith("p.i * 97")
    assert(copies.isEmpty && planeDots.size == 1,
      "spell DuckDB tokens, normal forms, quantized vectors and dots through the TextOps " +
        "twins (tokensSql, normTextSql, quantizeSql, qdotSql, planeDotSql); found " +
        copies.map { case (n, ls) => s"${ls.size} lines with $n: $ls" }.mkString("; ") +
        s"; plane dots $planeDots")
  }

  test("one quantized-cosine kernel: qdot and the ×1000 quantization only in TextOps.scala") {
    val offenders = Seq("qdot(", "quantize(col(\"embedding\"))")
      .flatMap(mainSourcesWith(_, "TextOps.scala")).distinct
    assert(offenders.isEmpty,
      s"score through TextOps.quantizedVecs / qnorm / qcos, not a spelled-out copy in: $offenders")
  }
}
