package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.UpsertSink

/** Small-file compaction — the table-maintenance job every long-lived
  * 100 TB dataset needs: streaming sinks and frequent small batch
  * appends accumulate files far below the ideal scan granularity
  * (HDFS/parquet sweet spot ~128 MB–1 GB), and scan cost becomes
  * per-file overhead (open + footer + planning) instead of bytes.
  *
  * Strategy: read the live set, `coalesce` down to a target file count
  * sized by total bytes / target file size (coalesce, not repartition —
  * no shuffle, it only merges read partitions), write to a staging
  * dir, move the new files in under a recognizable GENERATION prefix
  * (`compacted-<runid>-…`), then COMMIT by atomically replacing the
  * `_manifest` file, and finally delete the consumed inputs. This is
  * the poor-man's snapshot of the transactional table formats: the
  * single manifest rename is the only commit point.
  *
  * The manifest has two kinds of lines: plain names = the committed
  * live files; `-name` = inputs CONSUMED by that commit, RETAINED on
  * disk as the previous snapshot. The live set at any instant is
  *   manifest live ∪ {un-prefixed files outside the consumed list}
  * — i.e. files APPENDED by other writers after a commit stay visible
  * (they carry no generation prefix) and are folded into the next
  * compaction instead of being mistaken for garbage. Only
  * `compacted-*` files absent from the manifest are crashed-swap
  * leftovers and reclaimable.
  *
  * SNAPSHOT RETENTION: a commit does NOT delete the files it
  * consumed — they stay on disk, listed `-name`, until the next
  * [[compactParquet]] run or an explicit [[vacuum]]. A manifest
  * reader that resolved the OLD list just before the commit therefore
  * still finds every file it resolved — the read-vs-delete race is
  * closed by construction (re-losing it would take a reader stalled
  * across an entire retention window, i.e. two maintenance runs). The
  * price is ≤ 2× disk between maintenance runs — the trade every
  * snapshot-retaining table format makes.
  *
  * Guarantees, given readers resolve the live set via
  * [[readCompacted]]. The single-maintainer precondition (concurrent
  * APPENDERS are fine, concurrent COMPACTIONS are not) is enforced by
  * a create-exclusive lease file with a staleness takeover — a second
  * concurrent [[compactParquet]] fails fast instead of silently
  * GC-ing the first run's uncommitted generation:
  *   - appended data is never lost: un-prefixed files are live until
  *     a commit explicitly consumes them;
  *   - exactly-once rows at every commit state: pre-commit, the new
  *     generation is invisible (prefixed, unmanifested); post-commit,
  *     the consumed inputs are excluded though still on disk;
  *   - crash-safe: a re-run GCs unmanifested `compacted-*` files and
  *     vacuums the retained consumed files, then compacts one clean
  *     generation — duplicated rows can never be baked in. Orphaned
  *     staging dirs of THIS dataset are also reclaimed on re-run.
  * A plain `spark.read.parquet(dir)` reader ignores `_manifest` and
  * sees consumed + live DUPLICATES until a [[vacuum]] — the plain
  * path is only exact on a vacuumed dataset; manifest readers are
  * exact always.
  *
  * Flat layouts only: a `partitionBy` dataset must be compacted per
  * partition directory (each leaf dir IS a flat dataset) — compacting
  * the root would collapse the partition columns into data files and
  * corrupt partition discovery, so that case is rejected.
  */
object Compaction {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}
  import scala.jdk.CollectionConverters._

  /** Name of the live/consumed file list; underscore prefix keeps it
    * invisible to Spark's file index.
    */
  val ManifestName = "_manifest"

  /** Generation prefix marking files written BY compaction — the
    * property that lets recovery tell a crashed generation apart from
    * files appended by other writers.
    */
  val GenPrefix = "compacted-"

  /** Maintainer lease file; underscore prefix keeps it invisible to
    * Spark's file index, like the manifest.
    */
  val LeaseName = "_maintainer.lock"

  /** Size a compacted file aims at. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Age past which a maintainer lease is presumed crashed. */
  val LeaseStaleMs: Long = 15L * 60 * 1000

  /** Acquire the single-maintainer lease for `root`, or fail fast.
    *
    * The snapshot/retention protocol assumes ONE maintenance run at a
    * time (two concurrent runs could each GC the other's uncommitted
    * generation files, since neither generation is manifested yet).
    * That precondition used to live only in the scaladoc; this makes
    * it machine-checked: a create-exclusive lock file taken before any
    * destructive sweep, released on completion. A lease older than
    * [[LeaseStaleMs]] is presumed crashed and may be taken over —
    * takeover is raced through an atomic rename so exactly one
    * contender wins.
    */
  private def acquireLease(root: Path): Path = {
    val lock = root.resolve(LeaseName)
    def tryCreate(): Boolean =
      try {
        Files.write(lock,
          s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def claimStale(): Boolean =
      try {
        val age = System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
        if (age < LeaseStaleMs) false
        else {
          // Move the stale lease aside atomically: of N contenders,
          // only the one whose rename succeeds proceeds to re-create.
          val tomb = root.resolve(LeaseName + ".stale-" + java.util.UUID.randomUUID().toString.take(8))
          Files.move(lock, tomb, StandardCopyOption.ATOMIC_MOVE)
          Files.deleteIfExists(tomb)
          true
        }
      } catch {
        // Lease vanished under us (holder released / another contender
        // won the takeover) — the slot may be free now; let the caller
        // retry the exclusive create.
        case _: java.nio.file.NoSuchFileException => true
      }
    if (tryCreate()) lock
    else if (claimStale() && tryCreate()) lock
    else throw new IllegalStateException(
      s"another compaction holds the maintainer lease for $root " +
        s"($LeaseName exists and is fresh) — compactions must not run " +
        s"concurrently on one dataset; retry after it completes, or " +
        s"delete the lease if its holder is known dead")
  }

  private final case class Manifest(live: Seq[String], consumed: Seq[String])

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def parquetFiles(p: Path): Seq[Path] =
    list(p).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Delete a data file together with its Hadoop `.crc` shadow. */
  private def gc(root: Path, f: Path): Unit = {
    Files.deleteIfExists(root.resolve("." + f.getFileName.toString + ".crc"))
    Files.deleteIfExists(f)
    ()
  }

  private def readManifest(root: Path): Option[Manifest] = {
    val m = root.resolve(ManifestName)
    if (!Files.exists(m)) None
    else {
      val lines = Files.readAllLines(m).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      val (consumed, live) = lines.partition(_.startsWith("-"))
      Some(Manifest(live, consumed.map(_.drop(1))))
    }
  }

  /** Publish the manifest: write-to-temp + atomic rename, so a
    * concurrent reader sees either the old list or the new one, never
    * a torn file.
    */
  private def writeManifest(root: Path, m: Manifest): Unit = {
    val tmp = root.resolve(ManifestName + ".tmp")
    Files.writeString(tmp, (m.live ++ m.consumed.map("-" + _)).mkString("\n"))
    Files.move(tmp, root.resolve(ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The live file set under the manifest protocol: committed files,
    * plus appended (un-prefixed) files not consumed by the last
    * commit. Unmanifested `compacted-*` files are a crashed, never-
    * committed generation and are NOT live.
    */
  private def liveFiles(root: Path, m: Option[Manifest]): Seq[Path] = {
    def resolve(man: Manifest): Either[Seq[String], Seq[Path]] = {
      val onDisk = parquetFiles(root)
      val committed = man.live.toSet
      val consumed = man.consumed.toSet
      val appended = onDisk.map(_.getFileName.toString).filter { n =>
        !committed(n) && !consumed(n) && !n.startsWith(GenPrefix)
      }
      val missing = man.live.filterNot(n => Files.exists(root.resolve(n)))
      if (missing.nonEmpty) Left(missing)
      else Right((man.live ++ appended).map(root.resolve(_)))
    }
    m match {
      case None => parquetFiles(root)
      case Some(man) =>
        resolve(man) match {
          case Right(fs) => fs
          case Left(_) =>
            // A live file vanished between our manifest read and the
            // listing — under snapshot retention that means a commit +
            // vacuum both completed in that window. Re-read the
            // manifest ONCE and re-resolve; only a manifest that
            // STILL lists files absent from disk is real corruption.
            val fresh = readManifest(root).getOrElse(man)
            resolve(fresh) match {
              case Right(fs) => fs
              case Left(missing) =>
                throw new IllegalArgumentException(
                  s"manifest lists data files missing on disk (corrupted dataset?): " +
                    missing.mkString(", "))
            }
        }
    }
  }

  /** The live parquet file paths of `dir` under the manifest protocol
    * (all parquet files for a never-compacted dir). This is the
    * building block for readers that must assemble a MULTI-directory
    * live set themselves — e.g. a `partitionBy` layout whose leaf
    * directories are each independently compacted flat datasets and
    * must be read together under one `basePath` so the partition
    * column survives.
    */
  def livePaths(dir: String): Seq[String] = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    liveFiles(root, readManifest(root)).map(_.toString)
  }

  /** Read the dataset resolving the live file list through `_manifest`
    * when present (exactly-once across a concurrent compaction swap,
    * appended files included); falls back to the plain directory scan
    * for never-compacted dirs.
    */
  def readCompacted(spark: SparkSession, dir: String): DataFrame = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    readManifest(root) match {
      case Some(m) => spark.read.parquet(liveFiles(root, Some(m)).map(_.toString): _*)
      case None => spark.read.parquet(dir)
    }
  }

  /** Reclaim the retained previous snapshot: delete the consumed files
    * the last commit listed and drop them from the manifest. Run this
    * once in-flight readers of the pre-commit snapshot have drained
    * (the next [[compactParquet]] calls it implicitly). After a
    * vacuum, the plain-directory read path is exact again. Returns the
    * number of files reclaimed.
    */
  def vacuum(dir: String): Int = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    readManifest(root) match {
      case None => 0
      case Some(m) =>
        // Nothing-to-reclaim must be a TRUE no-op: callers probe state
        // with a second vacuum, and deleting _SUCCESS here would make
        // even that mutate the directory.
        if (m.consumed.nonEmpty) {
          m.consumed.foreach(n => gc(root, root.resolve(n)))
          Files.deleteIfExists(root.resolve("_SUCCESS"))
          Files.deleteIfExists(root.resolve("._SUCCESS.crc"))
          writeManifest(root, Manifest(m.live, Nil))
        }
        m.consumed.size
    }
  }

  /** Compact the flat parquet dataset at `dir` toward
    * [[TargetFileBytes]] per file. Returns (filesBefore, filesAfter);
    * (0, 0) when the directory holds no live parquet files.
    */
  def compactParquet(spark: SparkSession, dir: String): (Int, Int) = {
    val root = Paths.get(dir).toAbsolutePath.normalize

    val subdirs = list(root).filter(Files.isDirectory(_))
    require(subdirs.isEmpty,
      s"$dir has subdirectories (partitioned layout?) — compact each leaf partition " +
        s"directory instead; compacting the root would corrupt partition discovery: " +
        subdirs.map(_.getFileName).mkString(", "))

    val lease = acquireLease(root)
    try {
      compactLocked(spark, dir, root)
    } finally {
      Files.deleteIfExists(lease)
      ()
    }
  }

  private def compactLocked(spark: SparkSession, dir: String, root: Path): (Int, Int) = {

    // Recovery + retention sweep. (1) staging dirs of THIS dataset
    // orphaned by a hard crash (scoped by a name hash — never another
    // dataset's staging); (2) never-committed generation files;
    // (3) vacuum of the retained previous snapshot (its grace period
    // ends here: by the next maintenance run, readers of the
    // pre-commit list have long drained) — so this run compacts one
    // clean generation.
    list(root.getParent)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(stagingPrefix(root)))
      .foreach(UpsertSink.rmTree)
    // Crash orphans from the pre-hash '.compact-<name>-' staging scheme
    // would otherwise leak forever after the prefix upgrade. The
    // digits-only suffix createTempDirectory appends is what lets this
    // sweep match dataset 't' (".compact-t-12345") without also
    // matching sibling 't-x' (".compact-t-x-…") — the ambiguity that
    // forced the move to hashed prefixes in the first place.
    val legacy = (java.util.regex.Pattern.quote(s".compact-${root.getFileName}-") + "\\d+").r
    list(root.getParent)
      .filter(p => Files.isDirectory(p) && legacy.matches(p.getFileName.toString))
      .foreach(UpsertSink.rmTree)
    readManifest(root).foreach { m =>
      val committed = m.live.toSet
      parquetFiles(root)
        .filter { f =>
          val n = f.getFileName.toString
          n.startsWith(GenPrefix) && !committed(n)
        }
        .foreach(gc(root, _))
    }
    vacuum(dir)

    val manifest = readManifest(root)
    val live = liveFiles(root, manifest)
    if (live.isEmpty) return (0, 0)

    // Make sure a manifest exists BEFORE any swap step: every crash
    // window after this point is then recoverable by the sweep above.
    if (manifest.isEmpty)
      writeManifest(root, Manifest(live.map(_.getFileName.toString), Nil))

    val totalBytes = live.map(Files.size).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / TargetFileBytes).toInt)

    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staging = Files.createTempDirectory(root.getParent, stagingPrefix(root))
    try {
      val stagingOut = staging.resolve("out")
      spark.read.parquet(live.map(_.toString): _*).coalesce(targetFiles)
        .write.mode("overwrite").parquet(stagingOut.toString)

      // move the new generation in under the generation prefix —
      // invisible to manifest readers until the commit …
      val genNames = parquetFiles(stagingOut).map { f =>
        val name = s"$GenPrefix$runId-${f.getFileName.toString}"
        Files.move(f, root.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        name
      }
      // … COMMIT: one atomic rename flips readers old → new. The old
      // inputs travel as the consumed list and STAY on disk (snapshot
      // retention) — readers that resolved the pre-commit list still
      // find every file; the retained snapshot is reclaimed by the
      // next run's sweep or an explicit vacuum().
      writeManifest(root, Manifest(genNames, live.map(_.getFileName.toString)))
      (live.size, genNames.size)
    } finally {
      // staging is scratch in every outcome — success (files already
      // moved out) or failure (half-written output) — so reclaim it
      // unconditionally; the manifest keeps the dataset consistent.
      UpsertSink.rmTree(staging)
    }
  }

  /** Staging dirs are scoped per dataset so the crash sweep can never
    * touch a sibling dataset's in-flight compaction. The scope token
    * is a fixed-width HASH of the dataset name, not the name itself:
    * a raw name would make dataset `t`'s prefix (".compact-t-") a
    * string prefix of sibling `t-x`'s staging dirs and the startsWith
    * sweep would reclaim the sibling's in-flight work. Eight digest
    * bytes (64 bits) push sibling-collision odds below any plausible
    * dataset count per parent directory.
    */
  private[graft] def stagingPrefix(root: Path): String =
    s".compact-${shortDigest(root.getFileName.toString)}-"

  /** A fixed-width (16 hex digit) MD5 digest of `s`, for file names. */
  private[graft] def shortDigest(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
}
