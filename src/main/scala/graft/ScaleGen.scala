package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.UpsertSink

/** Scale-up generator for correctness checkpoints beyond the driver's
  * largest test set: replicates the text/embedding tables `factor`×
  * with content VARIED per replica, producing an sf×factor dataset on
  * which the same Spark-vs-DuckDB oracle compare runs unchanged.
  *
  * Variation matters: byte-identical replicas would multiply every
  * shingle's document frequency by `factor`, pushing them over the
  * rare-shingle df cap and qualitatively changing the dedup queries'
  * candidate structure. Instead each replica k tags every token with a
  * replica suffix (disjoint vocabularies — replica k's near-dup
  * structure mirrors the original within itself) and rotates each
  * embedding vector by k positions (norm-preserving, bucket-changing).
  * doc_id/vec_id are offset per replica; the offset is a multiple of
  * 10 so x_dedup_incremental's doc_id%10 delta split keeps its
  * proportions.
  *
  * Remaining tables are copied byte-identical from the source scale —
  * type-exact (the nanos-timestamp events file survives untouched) and
  * sufficient for the text/embedding query families this checkpoint
  * targets.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <dstDir> [factor=10]
  */
object ScaleGen {

  val IdOffset = 1000000L

  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + k * IdOffset).as("doc_id"),
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1x$k").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1x$k"))
          .cast("long").as("n_chars"))
    }.reduce(_.unionByName(_))

  def scaleEmbeddings(emb: DataFrame, factor: Int, dim: Int = 64): DataFrame = {
    // Rotation alone yields only `dim` distinct variants; past that the
    // second block of replicas NEGATES its rotation (norm-preserving,
    // every sign bit flips -> different LSH buckets, cosine -1 to the
    // unnegated twin) so no replica duplicates another's vectors and
    // the near-dup structure stays replica-local. Two blocks cover
    // factor <= 2*dim = 128 - enough for the sf10 scale slice (100x).
    require(factor <= 2 * dim, s"factor $factor > ${2 * dim} would repeat embedding variants")
    (0 until factor).map { k =>
      if (k == 0) emb
      else {
        val r = k % dim
        val rotated =
          if (r == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${r + 1}, ${dim - r}), slice(embedding, 1, $r))")
        val varied = if (k < dim) rotated else transform(rotated, x => -x)
        emb.select(
          (col("vec_id") + k * IdOffset).as("vec_id"),
          varied.as("embedding"),
          col("label"))
      }
    }.reduce(_.unionByName(_))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SessionTuning.session(src)

    // single-FILE tables, matching the source layout (the DuckDB side
    // of the oracle reads '<dir>/<table>.parquet' as one file); the
    // first publish creates `dst`
    def writeSingle(df: DataFrame, table: String): Unit =
      if (UpsertSink.publishSingleFile(df, Paths.get(dst), s"$table.parquet").isEmpty)
        sys.error(s"no part file for $table")
    writeSingle(scaleDocuments(Tables.documents(spark, src), factor), "documents")
    writeSingle(scaleEmbeddings(Tables.embeddings(spark, src), factor), "embeddings")
    // remaining tables: byte-identical copies (keeps parquet logical
    // types exactly — Spark would rewrite nanos timestamps)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")) {
      val from = Paths.get(src, s"$t.parquet")
      val to = Paths.get(dst, s"$t.parquet")
      if (Files.isDirectory(from)) {
        // directory-style parquet: copy the whole tree
        val w = Files.walk(from)
        try w.forEach { p =>
          val rel = to.resolve(from.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(rel)
          else Files.copy(p, rel, StandardCopyOption.REPLACE_EXISTING)
          ()
        } finally w.close()
      } else {
        Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    println(s"""{"scaled":"$dst","factor":$factor,"docs":${
      spark.read.parquet(s"$dst/documents.parquet").count()},"vecs":${
      spark.read.parquet(s"$dst/embeddings.parquet").count()}}""")
    spark.stop()
  }
}
