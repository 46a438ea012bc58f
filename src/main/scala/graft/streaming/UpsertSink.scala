package graft.streaming

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Outcome of an upsert — which leg of the reference protocol ran. */
sealed trait UpsertOutcome
case object Created extends UpsertOutcome
case object Replaced extends UpsertOutcome

/** K2/K3 report-upsert protocol (one_drive.py:130-211), local-FS
  * analog. The reference publishes every report with the same
  * three-step dance, once per run:
  *
  *   1. resolve the share link to the target folder
  *      (`get_driveitem_from_share_url`, one_drive.py:186-190);
  *   2. list the folder's children and look the report up BY NAME
  *      (`find_file_in_folder`, one_drive.py:143-160);
  *   3. if found, PUT-replace the existing item in place
  *      (`replace_existing_file`, one_drive.py:130-141) — the report
  *      keeps its item id, so existing share links stay valid; if not
  *      found, upload as a new child (one_drive.py:199-208).
  *
  * Here the "drive" is a directory and the PUT-replace is
  * stage-to-temp + atomic rename: a concurrent reader observes either
  * the old report or the new one, never a torn write — the same
  * idempotent-replace semantics the Graph PUT gives the reference.
  */
object UpsertSink {

  /** Step 1 — resolve the folder "link" (a path, optionally file:-
    * prefixed) to a canonical handle; None when it doesn't resolve to
    * a directory (the reference logs and skips that link).
    */
  def resolveFolder(link: String): Option[Path] = {
    val p = Paths.get(link.stripPrefix("file:")).toAbsolutePath.normalize
    if (Files.isDirectory(p)) Some(p) else None
  }

  /** Step 2 — find the report among the folder's children by exact
    * name, as the reference does (it needs the existing item's id to
    * decide which upload leg to take).
    */
  def findFileInFolder(folder: Path, name: String): Option[Path] =
    ls(folder).find(_.getName == name).map(_.toPath)

  /** Steps 3a/3b — replace-or-create. `write` stages the content to a
    * temp sibling (same filesystem, so the final move is atomic); the
    * rename then replaces any existing report in one step. Returns
    * which leg ran.
    */
  def upsert(folder: Path, name: String, write: Path => Unit): UpsertOutcome = {
    val existing = findFileInFolder(folder, name)
    val tmp = Files.createTempFile(folder, s".$name.", ".staging")
    try {
      write(tmp)
      Files.move(tmp, folder.resolve(name),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally { Files.deleteIfExists(tmp); () }
    if (existing.isDefined) Replaced else Created
  }

  /** K1 single-file render + K2 publish, the one path every one-file
    * parquet write takes: `df` is rendered with `coalesce(1)` into a
    * scratch directory and its part file is [[upsert]]ed as `name`
    * into `folder` (created if absent). The part file is MOVED into
    * upsert's staging file inside `folder`; across filesystems that
    * move degrades to copy + delete, so the one atomic step, the
    * rename-replace, stays within the target directory. Returns the
    * published path (None when the render left no part file) and
    * deletes nothing under `folder`.
    */
  def publishSingleFile(df: DataFrame, folder: Path, name: String): Option[Path] = {
    val scratch = Files.createTempDirectory("graft-publish-")
    try {
      val out = scratch.resolve("out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      ls(out).find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).map { part =>
        Files.createDirectories(folder)
        upsert(folder, name, { tmp =>
          Files.move(part.toPath, tmp, StandardCopyOption.REPLACE_EXISTING); ()
        })
        folder.resolve(name)
      }
    } finally rmTree(scratch)
  }

  private def ls(dir: Path): Seq[java.io.File] =
    Option(dir.toFile.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq)

  /** Subdirectories of `dir` named `prefix…`, by name; none if `dir` is unreadable. */
  private[graft] def subdirs(dir: Path, prefix: String): Seq[Path] =
    ls(dir).filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.toPath).sortBy(_.toString)

  /** Recursive delete; symlinks are removed, never followed; a missing path is a no-op. */
  private[graft] def rmTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}
