package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native StringShingles (replaces the posexplode + window-lead
  * gram construction and its per-doc exchange) must emit the identical
  * (doc_id, pos, shingle) rows as the window formulation, for every
  * registered width: decontamination reads the positions of its
  * `posexplode`.
  */
class StringShinglesSpec extends SparkSpec {
  import spark.implicits._

  /** The window formulation, keeping each gram's 0-based start
    * token `pos` (and no distinct, so every occurrence is pinned).
    */
  private def windowShingles(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(llm.TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("tok") +: (1 until k).map(o => lead("tok", o).over(w))
    toks.select(col("doc_id"), col("pos"),
        concat_ws(" ", parts: _*).as("shingle"),
        lead("tok", k - 1).over(w).isNotNull.as("complete"))
      .where(col("complete"))
      .select("doc_id", "pos", "shingle")
  }

  private def nativeShingles(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      posexplode(org.apache.spark.sql.graft.StringShingles(
        llm.TextOps.tokens(col("text")), k)).as(Seq("pos", "shingle")))

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a b"),                        // shorter than k=3: no shingles
    (3L, "one"),                        // single token
    (4L, ""),                           // empty text
    (5L, "x y z x y z x y z"),          // repeats: multiset counts matter
    (6L, "Tabs\tand,punct!!separate2tokens")).toDF("doc_id", "text")

  test("positioned shingles equal the window formulation at k = 1, 2, 3, 8") {
    for (k <- Seq(1, 2, 3, 8)) {
      val exp = windowShingles(docs, k).orderBy("doc_id", "pos").collect()
      val got = nativeShingles(docs, k).orderBy("doc_id", "pos").collect()
      assert(exp.nonEmpty && got.toSeq == exp.toSeq, s"k=$k")
    }
  }

  test("matches on real testdata documents at k = 3") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val exp = windowShingles(real, 3)
    val got = nativeShingles(real, 3)
    assert(exp.count() > 0 && got.unionAll(exp).distinct().count() == exp.count())
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
  }

  test("null text yields no shingles; shinglePostings output schema unchanged") {
    val d = Seq((1L, Option.empty[String]), (2L, Some("a b c d"))).toDF("doc_id", "text")
    val sp = llm.TextOps.shinglePostings(d, 3)
    assert(sp.columns.toSeq == Seq("doc_id", "shingle"))
    val rows = sp.orderBy("shingle").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((2L, "a b c"), (2L, "b c d")))
  }
}
