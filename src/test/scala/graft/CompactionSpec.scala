package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.Compaction

class CompactionSpec extends SparkSpec {

  private def mkDataset(n: Int): String = {
    val dir = llm.SharedIndex.tempDir("graftcompact").resolve("t").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .repartition(n).write.mode("overwrite").parquet(dir)
    dir
  }
  private def rows(dir: String): Seq[String] =
    Compaction.readCompacted(spark, dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
  private def stagingDirs(dir: String): Seq[String] = {
    val parent = Paths.get(dir).toAbsolutePath.getParent
    Option(parent.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".compact-")).map(_.getName).toSeq
  }

  test("compaction collapses a many-small-file dataset to few files with identical content") {
    val dir = mkDataset(40)
    val before = spark.read.parquet(dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq

    val (nBefore, nAfter) = Compaction.compactParquet(spark, dir)
    assert(nBefore >= 40, s"expected >=40 small files, got $nBefore")
    assert(nAfter == 1, s"tiny dataset should compact to one file, got $nAfter")

    // snapshot retention: the consumed inputs are still on disk (the
    // manifest reader excludes them; the plain reader double-counts
    // until vacuum) …
    assert(rows(dir) == before, "manifest reader must be exact pre-vacuum")
    val reclaimed = Compaction.vacuum(dir)
    assert(reclaimed == nBefore, s"vacuum must reclaim the $nBefore consumed inputs")
    assert(Compaction.vacuum(dir) == 0, "second vacuum is a no-op")
    // … and after vacuum BOTH read paths are exact
    assert(rows(dir) == before, "content must be identical after compaction")
    assert(spark.read.parquet(dir).orderBy("doc_id").collect().map(_.toString).toSeq == before)
    val manifest = Paths.get(dir).resolve(Compaction.ManifestName)
    assert(Files.exists(manifest))
    // idempotent: compacting a compacted dataset is a no-op in file count
    val (b2, a2) = Compaction.compactParquet(spark, dir)
    assert(b2 == 1 && a2 == 1)
  }

  test("files appended AFTER a compaction stay live and fold into the next one") {
    val dir = mkDataset(3)
    val before = rows(dir)
    Compaction.compactParquet(spark, dir)
    // another writer appends a plain (un-prefixed) part file
    val extraSrc = llm.SharedIndex.tempDir("graftappend")
    Tables.documents(spark, "/root/testdata/sf0.001")
      .where(org.apache.spark.sql.functions.col("doc_id") < 3)
      .coalesce(1).write.mode("overwrite").parquet(extraSrc.resolve("out").toString)
    val part = extraSrc.resolve("out").toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.move(part, Paths.get(dir).resolve("part-appended-later.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    val appended = spark.read.parquet(Paths.get(dir)
      .resolve("part-appended-later.parquet").toString).count()
    assert(appended > 0)
    // the append is visible through the manifest reader immediately…
    assert(Compaction.readCompacted(spark, dir).count() == before.size + appended)
    // …and the next compaction folds it in instead of deleting it
    val (b, a) = Compaction.compactParquet(spark, dir)
    assert(b == 2 && a == 1, s"expected 2 live inputs -> 1 file, got ($b, $a)")
    assert(Compaction.readCompacted(spark, dir).count() == before.size + appended)
  }

  test("compaction refuses a partitioned root (per-partition leaves compact fine)") {
    val dir = llm.SharedIndex.tempDir("graftcompactpart").resolve("t").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    // compacting the root would collapse partition columns into data
    // files and corrupt partition discovery - must be rejected, not
    // silently doubled
    val e = intercept[IllegalArgumentException] {
      Compaction.compactParquet(spark, dir)
    }
    assert(e.getMessage.contains("partitioned"))
    // each leaf partition IS a flat dataset and compacts normally
    val leaf = new java.io.File(dir).listFiles.filter(_.isDirectory).head.toString
    val n = spark.read.parquet(leaf).count()
    val (_, nAfter) = Compaction.compactParquet(spark, leaf)
    Compaction.vacuum(leaf) // reclaim the retained snapshot before the plain-dir read
    assert(nAfter == 1 && spark.read.parquet(leaf).count() == n)
  }

  test("empty directory is a clean no-op") {
    val dir = llm.SharedIndex.tempDir("graftcompactempty").resolve("t")
    Files.createDirectories(dir)
    // zero parquet files: a no-op result, no staging dir leaked, no
    // schema-inference crash
    assert(Compaction.compactParquet(spark, dir.toString) == ((0, 0)))
    assert(stagingDirs(dir.toString).isEmpty)
  }

  test("a crashed swap never bakes duplicates: un-committed generation files are GC'd") {
    val dir = mkDataset(5)
    val before = rows(dir)
    Compaction.compactParquet(spark, dir) // establishes a manifest
    Compaction.vacuum(dir) // reclaim the retained snapshot: plain dir = 1 live file
    // simulate a crash AFTER a new generation was moved in but BEFORE
    // the manifest commit: a generation-prefixed copy of the data sits
    // beside the live file, doubling every row for a plain dir reader
    val root = Paths.get(dir)
    val liveFile = root.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(liveFile, root.resolve(s"${Compaction.GenPrefix}deadbeef-part-0.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    assert(spark.read.parquet(dir).count() == 2L * before.size) // the hazard is real
    // manifest-aware reader is unaffected...
    assert(rows(dir) == before)
    // ...and the recovery run reclaims the crashed generation
    val (b, a) = Compaction.compactParquet(spark, dir)
    assert(b == 1 && a == 1)
    assert(rows(dir) == before)
    Compaction.vacuum(dir) // reclaim this run's retained snapshot too
    assert(spark.read.parquet(dir).orderBy("doc_id").collect().map(_.toString).toSeq == before)
  }

  test("reader racing the swap sees exactly-once data at every commit state") {
    val dir = mkDataset(4)
    val before = rows(dir)
    Compaction.compactParquet(spark, dir)
    Compaction.vacuum(dir) // single live generation-1 file
    val root = Paths.get(dir)
    val gen1 = root.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath

    // build generation 2 out-of-band and move it in WITHOUT committing:
    // this is the mid-swap state (old committed + new files present)
    val scratch = llm.SharedIndex.tempDir("graftgen2")
    spark.read.parquet(gen1.toString).coalesce(1)
      .write.mode("overwrite").parquet(scratch.resolve("out").toString)
    val gen2name = s"${Compaction.GenPrefix}gen2run-part-0.parquet"
    val gen2src = scratch.resolve("out").toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.move(gen2src, root.resolve(gen2name), StandardCopyOption.ATOMIC_MOVE)
    assert(rows(dir) == before, "pre-commit: reader must still resolve generation 1 only")

    // COMMIT: atomically swap the manifest — generation 2 live,
    // generation 1 consumed-and-RETAINED (the steady post-commit state
    // under snapshot retention)
    val tmp = root.resolve("_manifest.swap")
    Files.writeString(tmp, s"$gen2name\n-${gen1.getFileName}")
    Files.move(tmp, root.resolve(Compaction.ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    assert(rows(dir) == before,
      "post-commit: reader must resolve generation 2 only, not old+new")
    // retention closes the read-vs-delete race: a reader that resolved
    // the PRE-commit list still finds its file — nothing was deleted at
    // commit time, so the read needs no retry
    assert(Files.exists(gen1),
      "consumed generation-1 file must be RETAINED at commit (snapshot retention)")
    assert(spark.read.parquet(gen1.toString).count() == before.size.toLong,
      "a reader holding the pre-commit list reads its snapshot intact")

    // the next maintenance run vacuums the retained snapshot and stays exact
    val (b, a) = Compaction.compactParquet(spark, dir)
    assert(b == 1 && a == 1)
    assert(rows(dir) == before)
    assert(!Files.exists(gen1), "retained generation-1 file is reclaimed by the next run")
  }

  test("a failing compaction write cleans up its staging; crashed staging dirs are swept") {
    val dir = llm.SharedIndex.tempDir("graftcompactbad").resolve("t")
    Files.createDirectories(dir)
    Files.write(dir.resolve("broken.parquet"), "this is not parquet".getBytes)
    // a hard-crash leftover staging dir from a previous run of THIS dataset
    val orphan = dir.getParent.resolve(Compaction.stagingPrefix(dir) + "orphan123")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk"), "stale")
    intercept[Exception] {
      Compaction.compactParquet(spark, dir.toString)
    }
    assert(stagingDirs(dir.toString).isEmpty,
      "neither the failed run's staging nor the crash orphan may remain")
  }

  test("maintainer lease: a second concurrent compaction fails fast; stale leases are taken over") {
    val dir = mkDataset(3)
    val root = Paths.get(dir)
    val lease = root.resolve(Compaction.LeaseName)

    // a FRESH lease means another maintainer is live: fail fast instead
    // of sweeping its uncommitted generation out from under it
    Files.writeString(lease, "pid=99999 ts=now")
    val e = intercept[IllegalStateException] {
      Compaction.compactParquet(spark, dir)
    }
    assert(e.getMessage.contains("lease"))
    assert(Files.exists(lease), "a refused run must not release the other maintainer's lease")

    // a STALE lease is a crashed maintainer: takeover must succeed
    Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    val (b, a) = Compaction.compactParquet(spark, dir)
    assert(b >= 3 && a == 1, s"stale-lease takeover should compact normally, got ($b, $a)")
    assert(!Files.exists(lease), "the lease must be released after a successful run")
    assert(rows(dir).nonEmpty)
  }

  test("vacuum with nothing to reclaim is a true no-op (keeps _SUCCESS)") {
    val dir = mkDataset(2)
    Compaction.compactParquet(spark, dir)
    Compaction.vacuum(dir) // reclaims the consumed inputs and the stale _SUCCESS
    val root = Paths.get(dir)
    // a later appender's commit marker must survive a no-op vacuum —
    // callers probe state with a second vacuum and expect zero mutation
    Files.writeString(root.resolve("_SUCCESS"), "")
    assert(Compaction.vacuum(dir) == 0)
    assert(Files.exists(root.resolve("_SUCCESS")),
      "no-op vacuum must not delete _SUCCESS")
  }

  test("legacy raw-name staging orphans are swept, but not a sibling's") {
    // dirs written by the pre-hash '.compact-<name>-<digits>' scheme
    // must be reclaimed after the prefix upgrade instead of leaking
    // forever; the digits-only suffix keeps sibling `t-x` safe
    val parent = llm.SharedIndex.tempDir("graftlegacy")
    val t = parent.resolve("t")
    Files.createDirectories(t)
    Tables.documents(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(t.toString)
    val legacyMine = parent.resolve(".compact-t-12345678")
    val legacySibling = parent.resolve(".compact-t-x-12345678")
    Files.createDirectories(legacyMine)
    Files.createDirectories(legacySibling)
    Files.writeString(legacySibling.resolve("half-written"), "sibling work")
    Compaction.compactParquet(spark, t.toString)
    assert(!Files.exists(legacyMine), "own legacy staging orphan must be swept")
    assert(Files.exists(legacySibling.resolve("half-written")),
      "sibling's legacy staging must be untouched")
  }

  test("the staging sweep never touches a prefix-related SIBLING dataset's staging") {
    // datasets `t` and `t-x` share a parent; a raw-name scope token
    // would make t's prefix a string prefix of t-x's staging dirs and
    // t's sweep would reclaim the sibling's in-flight compaction
    val parent = llm.SharedIndex.tempDir("graftsibling")
    val t = parent.resolve("t")
    Files.createDirectories(t)
    Tables.documents(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(t.toString)
    val siblingRoot = parent.resolve("t-x")
    val siblingStaging = parent.resolve(Compaction.stagingPrefix(siblingRoot) + "inflight1")
    Files.createDirectories(siblingStaging)
    Files.writeString(siblingStaging.resolve("half-written"), "sibling work")
    assert(Compaction.stagingPrefix(t) != Compaction.stagingPrefix(siblingRoot))
    Compaction.compactParquet(spark, t.toString)
    assert(Files.exists(siblingStaging.resolve("half-written")),
      "t's sweep must not reclaim t-x's in-flight staging")
  }
}
