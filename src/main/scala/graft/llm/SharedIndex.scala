package graft.llm

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Shared, materialized shingle-postings index for the dedup family.
  *
  * Eight queries (ngram, MinHash signature, MinHash+LSH pairs ×2,
  * SimHash ×2, incremental, corpus dedup) all run on the same
  * inverted index
  * `(doc_id, sid)` — one row per distinct (document, 3-shingle), with
  * the shingle replaced by its dense dictionary id. Round 1 rebuilt
  * tokenize → shingle → dict inside every query (~62% of total bench
  * time); this object builds it ONCE per (JVM, sf-dir) and persists it
  * as parquet, so every query — and every branch within a query (rare
  * filter, candidate join, both verify sides, doc counts) — is a plain
  * columnar scan instead of a recompute.
  *
  * This mirrors what a 100 TB pipeline does: the inverted index is an
  * artifact you materialize once and amortize across the whole dedup
  * job family, not a CTE you re-derive per query. Persisting to disk
  * (rather than `.cache()`) survives cache eviction and is the shape
  * that works when the index exceeds cluster memory.
  *
  * The parquet lives under a per-JVM temp directory: each driver run
  * (Verify, Bench, tests) builds its own copy, so a code change never
  * reads a stale index. Bench triggers the build explicitly before its
  * timed loop and reports it as the `index_build` metric — per-query
  * numbers are warm-index, and the one-time cost is its own line
  * (included in the total) rather than noise inside whichever dedup
  * query happens to run first. A shutdown hook removes the directory
  * recursively (deleteOnExit alone can't — it only deletes empty
  * dirs).
  */
object SharedIndex {

  // per-JVM root; paths never collide across runs
  private lazy val root = {
    val dir = Files.createTempDirectory("graft-sidindex-")
    sys.addShutdownHook(graft.streaming.UpsertSink.rmTree(dir))
    dir
  }

  /** A fresh directory named `prefix…` under the per-JVM root, for a
    * query's fixture that must not outlive the run.
    */
  private[graft] def tempDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(root, prefix)

  private val builtPaths = mutable.HashMap.empty[String, String]

  /** Test-only accounting: how many times each artifact key's builder
    * actually RAN in this JVM (key = normalized dir#tag, see
    * [[materialized]]). The spans queries pin their gram stream behind
    * a lazy localCheckpoint whose LogicalRDD hides lineage, so the
    * warm-artifact contract ("the whole winnow/span/cut/decon family
    * triggers exactly one tokhash build") cannot be asserted by plan
    * inspection — the spec asserts it on these counts instead.
    * Guarded by the same lock as [[builtPaths]].
    */
  private[graft] val buildCounts = mutable.HashMap.empty[String, Int]

  private def countBuild(key: String): Unit =
    buildCounts.update(key, buildCounts.getOrElse(key, 0) + 1)

  /** Test-only: an immutable snapshot of [[buildCounts]]. */
  private[graft] def buildCountsSnapshot: Map[String, Int] =
    builtPaths.synchronized { buildCounts.toMap }

  /** The `(doc_id, sid)` postings for the documents table under `dir`,
    * built + persisted on first use as the `sid_postings` artifact.
    */
  def sidPostings(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "sid_postings") {
      // THREE measured non-wins keep this formulation as-is: persisting
      // `sh` before its two consumers costs ~+1 s (the codegen'd
      // shingle pipeline recomputes cheaper than it materializes,
      // 3-trial cold builds at sf0.1/local[32], baseline ~10.2 s),
      // a "one-pass" dense_rank directly over the postings costs
      // ~+3 s (sorting every posting row dwarfs ranking the distinct
      // set plus joining back), and building the shingles FROM the
      // materialized token-hash frame (skipping tokenize+posexplode)
      // costs ~+1 s combined (2-trial r12: tok_build-first 3.9-4.0 s
      // + index 5.3-6.1 s vs 1.2 s + 7.0-7.4 s as-is — scanning the
      // 1.9M-row frame parquet is slower than re-tokenizing 50k docs
      // inside the scan's codegen stage).
      val sh = TextOps.shinglePostings(Tables.documents(spark, dir), 3)
      sh.join(TextOps.shingleDict(sh), "shingle").select("doc_id", "sid")
    }

  /** Generic once-per-(JVM, sf-dir) materialized artifact: `build` is
    * evaluated and persisted as parquet on the first call for a given
    * (dir, tag), and every later call — across queries — is a plain
    * columnar scan. The whole check-and-build runs under one lock so
    * concurrent first callers can't race a rebuild of the same path;
    * the key is the normalized absolute path so spelling variants
    * (trailing slash, relative) share one artifact, stored in the
    * directory `<tag>-<digest of the key>` (a name Spark does not read
    * as hidden, unique per key). A labeling or index
    * that an entire job family consumes is an artifact you compute
    * once, not a plan fragment each query re-derives. Used for the
    * shingle postings above and the near-dup CC labeling (nine queries
    * consume one clustering); Bench builds each explicitly as its own
    * metric line (`index_build`, `cc_build`) so per-query numbers are
    * warm-artifact.
    */
  def materialized(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString + "#" + tag
    val path = builtPaths.synchronized {
      builtPaths.getOrElseUpdate(key, {
        countBuild(key)
        val p = root.resolve(s"$tag-${graft.operators.Compaction.shortDigest(key)}").toString
        build.write.mode("overwrite").parquet(p)
        p
      })
    }
    spark.read.parquet(path)
  }
}
