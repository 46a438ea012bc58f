package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Shared text/embedding column helpers for the LLM-pipeline operators.
  * Everything is built from exact integer arithmetic (token/shingle
  * dictionary ids, modular hashes, quantized embeddings) so results are
  * bit-reproducible across engines and across shuffle reorderings — a
  * hard requirement both for the DuckDB oracle and for deterministic
  * re-runs of a 100 TB dedup job.
  */
object TextOps {

  /** Tokenize: lowercase word/number runs. Matches DuckDB's
    * `regexp_extract_all(lower(text), '[a-z0-9]+')`.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-normalized text: lowercase, every whitespace run one
    * space, trimmed (DuckDB `trim(regexp_replace(lower(text), '\s+', ' ', 'g'))`).
    */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact-dedup fingerprint: md5 of [[normText]] (x_dedup_exact's). */
  def exactFp(text: Column): Column = md5(normText(text))

  /** Exact-dedup keeper: the rows of a (doc_id, text, …) frame whose
    * doc_id is the least among the rows sharing its [[exactFp]]
    * (x_dedup_exact's rule).
    */
  def exactKeepers(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(exactFp(col("text"))).orderBy("doc_id")))
      .where(col("rn") === 1).drop("rn")

  /** (doc_id, shingle) postings — the inverted-index representation all
    * set-similarity ops run on: one row per distinct (doc, word
    * k-shingle), the shingles from
    * [[org.apache.spark.sql.graft.StringShingles]] (per-row, no
    * exchange).
    */
  def shinglePostings(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.StringShingles(tokens(col("text")), k))
          .as("shingle"))
      .distinct()

  /** Global shingle dictionary: deterministic dense integer ids, sid =
    * global rank among the sorted distinct shingles (the oracle's
    * `row_number() OVER (ORDER BY shingle)`), by
    * [[graft.operators.Relational.rangeRank]]: never one task for the
    * whole vocabulary, and independent of the partition boundaries.
    */
  def shingleDict(postings: DataFrame): DataFrame =
    graft.operators.Relational.rangeRank(
      postings.select("shingle").distinct(), "shingle", "sid")._1

  /** Karp-Rabin modulus shared by the winnowing / repeated-span /
    * fingerprint family and their DuckDB oracles.
    */
  val HashMod = 1000000007L

  /** Token-position frame with per-token hash state:
    * `(doc_id, pos, tok, th, tp)` where `pos` is the 0-based token
    * position, `th = fold(acc*31 + ascii(c)) mod P` over the token's
    * chars (the same char fold the oracles use), and
    * `tp = 31^len(tok) mod P`.
    *
    * `(th, tp)` is the composable hash state of the polynomial fold:
    * for strings s, t — `f(s ++ t) = (f(s)·31^|t| + f(t)) mod P` — so
    * any k-token gram's hash can be rebuilt from per-token states with
    * pure modular arithmetic (see [[gramHashes]]), bit-identical to
    * folding the gram's characters directly. The char-level fold (the
    * one interpreted HOF in the family) then runs ONCE per token,
    * instead of once per (gram config × window position × gram width)
    * — the 100 TB shape is to materialize this frame once per corpus
    * and derive every gram-indexed structure from it.
    */
  def tokenHashFrame(docs: DataFrame): DataFrame = {
    // both fold states in ONE native codegen'd expression
    // (optimization round): the previous aggregate(filter(split(...)))
    // HOF pair walked every token's characters twice through
    // interpreted lambdas — the dominant cost of tok_build.
    // TokenHashStateSpec pins bit parity with the HOF formulation.
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("hs", org.apache.spark.sql.graft.TokenHashState(col("tok")))
      .withColumn("th", col("hs").getItem(0))
      .withColumn("tp", col("hs").getItem(1))
      .drop("hs")
  }

  /** Hash of the `gram`-token window starting at the current row of a
    * [[tokenHashFrame]], composed from per-token `(th, tp)` states via
    * `lead` — space separator folded in as `acc·31 + 32` between
    * tokens, exactly the character fold over
    * `concat_ws(" ", tok₀ … tok₉)`. All intermediate products stay
    * below 2⁶³: `(acc·31+32) < 3.2e10` is reduced mod P (< 1.001e9)
    * before multiplying by `tp < P`, so the product is < 1.1e18.
    * Rows without `gram` complete tokens yield garbage here, so the
    * only caller, [[gramHashes]], keeps complete windows alone.
    */
  private def gramHash(byDoc: WindowSpec, gram: Int): Column =
    (1 until gram).foldLeft(col("th")) { (acc, i) =>
      (((acc * 31 + 32) % HashMod) * lead("tp", i).over(byDoc) % HashMod
        + lead("th", i).over(byDoc)) % HashMod
    }

  /** `(doc_id, pos, h)`: the hash of every COMPLETE `gram`-token window
    * of a [[tokenHashFrame]], `pos` its 0-based start — the one gram
    * hash of the winnowing / repeated-span / cut family. Keeps position
    * and duplicates (winnowing needs the stream); a window is complete
    * where `lead(th, gram-1)` exists, as the char-fold formulation's
    * `concat_ws` nulls made it. One shuffle by doc_id.
    */
  def gramHashes(frame: DataFrame, gram: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    frame
      .withColumn("h", gramHash(byDoc, gram))
      .withColumn("gram_complete", lead("th", gram - 1).over(byDoc).isNotNull)
      .where(col("gram_complete"))
      .select(col("doc_id"), col("pos"), col("h"))
  }

  /** Drop `covered` (doc_id, p) token positions from a token frame and
    * rebuild the surviving stream per document — the shared back half
    * of every positional cut (exact-substring dedup's repeat excision,
    * span-level decontamination's surgical cut). Emits
    * (doc_id, n_tokens, n_kept, clean_text) for every doc in `docIds`;
    * docs losing everything keep 0 tokens and an empty string, and
    * token-less docs re-enter via the left join with n_tokens = 0.
    *
    * Scale shape: the kept set is one anti-join on (doc_id, p);
    * reconstruction is a per-doc sort of the survivors — fan-out and
    * state bounded by document length, never corpus-sized.
    */
  def cutCoveredPositions(docIds: DataFrame, frame: DataFrame,
      covered: DataFrame): DataFrame = {
    val toks = frame
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    val counts = frame.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    docIds.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Quantize a float embedding to exact longs (×`scale`, the
    * production ×1000 unless a recall audit asks for a coarser grid) —
    * integer dot products are order-insensitive and engine-reproducible,
    * unlike float sums.
    */
  def quantize(embedding: Column, scale: Int = 1000): Column =
    transform(embedding, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — native
    * codegen'd expression; the equivalent HOF
    * `aggregate(zip_with(a,b,_*_),0,_+_)` runs interpreted and is
    * several times slower on pair-scoring hot paths.
    */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.QuantizedDot(a, b)

  /** Norm of a quantized vector: the square root of its exact integer
    * self-dot, computed once per vector and carried next to it.
    */
  def qnorm(qe: Column): Column = sqrt(qdot(qe, qe).cast("double"))

  /** Quantized cosine — the embedding family's whole reproducibility
    * contract: an exact integer dot and ONE double division by the
    * carried norms, so every engine and partitioning gets the same
    * IEEE double.
    */
  def qcos(qa: Column, na: Column, qb: Column, nb: Column): Column =
    qdot(qa, qb) / (na * nb)

  /** The quantized-vector frame `(vec_id, carry…, qe, nrm)` of an
    * embeddings table — the scoring input of every similarity query.
    */
  def quantizedVecs(emb: DataFrame, carry: String*): DataFrame =
    emb.select((col("vec_id") +: carry.map(col)) :+ quantize(col("embedding")).as("qe"): _*)
      .withColumn("nrm", qnorm(col("qe")))
}
