package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StringShingles
import graft.{QueryDef, Tables}
import graft.llm.TextOps._
import graft.operators.Relational.{packCumSum, packCumSumSql, shardIdSql}

/** Corpus-curation operators for LLM training-data pipelines:
  * deterministic stratified sampling, token-budget shard packing, and
  * an end-to-end curation pipeline (quality filter → exact dedup →
  * stratified sample).
  *
  * Scale design:
  *   - Sampling is HASH-based (md5 of the doc id → uniform bucket),
  *     not `rand()`-based: zero shuffle, embarrassingly parallel, and
  *     reproducible — re-running the job, or re-running one failed
  *     partition, selects the identical sample. That reproducibility
  *     is the whole point of deterministic sampling at 100 TB.
  *   - Shard packing needs a GLOBAL running sum; a no-partition window
  *     would funnel the entire corpus through one task. It is computed
  *     as the standard two-phase distributed prefix sum instead:
  *     range-partition by doc_id, running-sum locally per partition
  *     (parallel), then add broadcast per-partition offsets
  *     ([[graft.operators.Relational.packCumSum]], whose offsets step
  *     is the distributed rank's).
  */
object CurationQueries {

  /** Uniform bucket in [0, 1000) from the doc id: polynomial rolling
    * hash over the first 8 hex chars of md5(doc_id) — both engines
    * produce identical md5 hex, and the modular-int fold is the same
    * primitive already oracle-pinned by x_fingerprint.
    *
    * The 8-step fold is UNROLLED into built-in arithmetic (not an
    * `aggregate` HOF): HOF lambdas run interpreted (CodegenFallback),
    * while this composition stays inside whole-stage codegen — on a
    * per-row hot path at corpus scale that is the difference that
    * matters. Values are identical to the HOF/`list_reduce` form.
    */
  private[llm] def hashBucket(docId: Column): Column = {
    val h = md5(docId.cast("string").cast("binary"))
    (1 to 8).foldLeft(lit(0L))(
      (acc, i) => (acc * 31 + ascii(substring(h, i, 1))) % 1000000007L) % 1000
  }

  /** The same fold in DuckDB SQL, over an arbitrary id column. */
  private[llm] def hashBucketSqlOf(idCol: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(substr(md5(CAST($idCol AS VARCHAR)), 1, 8), ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 1000000007) % 1000""".stripMargin

  private val hashBucketSql = hashBucketSqlOf("doc_id")

  /** Deterministic stratified sampling: per-language target rates
    * (en 50%, de 30%, everything else 10%) applied via the hash
    * bucket — the reproducible way to compose a training mix from a
    * multilingual corpus. Narrow plan, no shuffle, no rand().
    */
  val sampleStratified: QueryDef = QueryDef.sql(
    "x_sample_stratified",
    s"""WITH h AS (
       |  SELECT doc_id, lang, $hashBucketSql AS bucket
       |  FROM documents)
       |SELECT doc_id, lang, bucket FROM h
       |WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300 ELSE 100 END""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), hashBucket(col("doc_id")).as("bucket"))
      .where(col("bucket") <
        when(col("lang") === "en", 500)
          .when(col("lang") === "de", 300)
          .otherwise(100))
  }

  /** Token-budget shard packing: documents are packed, in doc_id
    * order, into training shards of ~`budget` tokens each —
    * shard_id = exclusive-prefix-sum(n_tokens) div budget. The prefix
    * sum is distributed (see class doc); the per-partition offset
    * table has one row per partition (bounded by cluster config, not
    * data) so it broadcasts.
    */
  def tokenPackDf(s: SparkSession, d: String, budget: Long): DataFrame = {
    val toks = Tables.documents(s, d).select(
      col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    packCumSum(toks, Seq("doc_id"), "n_tokens", budget)
  }

  val tokenPack: QueryDef = QueryDef.sql(
    "x_token_pack",
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         ${packCumSumSql(Seq("doc_id"), "n_tokens")}
       |  FROM t)
       |SELECT doc_id, n_tokens, cum_tokens, ${shardIdSql("n_tokens", 2000L)}
       |FROM c""".stripMargin) { (s, d) => tokenPackDf(s, d, budget = 2000L) }

  /** End-to-end corpus curation: quality floor (x_text_stats's
    * uniq-ratio × (1 − stop-ratio) score) → exact dedup keeper
    * (x_dedup_exact's min-doc_id-per-fingerprint rule) → deterministic
    * 50% sample. The composed shape of a real pre-training data prep
    * job; every stage reuses an operator that is independently
    * oracle-checked above.
    */
  val corpusCurate: QueryDef = QueryDef.sql(
    "x_corpus_curate",
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
       |         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, lang, norm,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) *
       |           (1 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / nullif(len(toks), 0)) AS quality
       |  FROM t),
       |qf AS (
       |  SELECT * FROM q WHERE n_tokens >= 5 AND quality >= 0.3),
       |keep AS (
       |  SELECT doc_id, lang, n_tokens, quality,
       |         row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
       |  FROM qf),
       |h AS (
       |  SELECT doc_id, lang, n_tokens, quality, $hashBucketSql AS bucket
       |  FROM keep WHERE rn = 1)
       |SELECT doc_id, lang, n_tokens, quality FROM h
       |WHERE bucket < 500""".stripMargin) { (s, d) => curatedDf(s, d) }

  /** The curation dataflow (quality floor → exact-dedup keeper →
    * deterministic 50% sample) — shared by x_corpus_curate and the
    * end-to-end pipeline query.
    */
  private def curatedDf(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a")
    val t = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("toks"))
    val q = t.select(
        col("doc_id"), col("lang"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"),
        ((size(array_distinct(col("toks"))).cast("double") / nullif(size(col("toks")), lit(0))) *
          (lit(1) - size(filter(col("toks"), x => x.isin(stop: _*))).cast("double") /
            nullif(size(col("toks")), lit(0)))).as("quality"))
      .where(col("n_tokens") >= 5 && col("quality") >= 0.3)
    exactKeepers(q)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
        hashBucket(col("doc_id")).as("bucket"))
      .where(col("bucket") < 500)
      .drop("bucket")
  }

  /** Per-source document cap: keep at most 10 docs per source, chosen
    * by hash-bucket order (reproducible "random" subset, no rand())
    * with doc_id tie-break — the standard domain-balancing op that
    * stops one crawl domain from dominating a training mix. Only the
    * narrow (doc_id, source, bucket) triple moves through the shuffle
    * — the text column is pruned at the scan; at 100 TB the survivors
    * are fetched by a later id semi-join.
    */
  val sourceCap: QueryDef = QueryDef.sql(
    "x_source_cap",
    s"""WITH h AS (
       |  SELECT doc_id, source, $hashBucketSql AS bucket
       |  FROM documents)
       |SELECT doc_id, source, bucket FROM h
       |QUALIFY row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) <= 10""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), hashBucket(col("doc_id")).as("bucket"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("bucket"), col("doc_id"))))
      .where(col("rn") <= 10).drop("rn")
  }

  /** Context-window chunking on any (doc_id, text) frame: split each
    * document into `chunkTokens`-token chunks overlapping by `overlap`
    * tokens (x_doc_chunks: 40 and 8, stride 32) — the standard LLM
    * preprocessing step between curation and tokenization. With
    * stride = chunkTokens − overlap, chunk k covers tokens
    * [k·stride+1, k·stride+chunkTokens]; documents of ≤ chunkTokens
    * tokens yield one chunk. Purely per-row (tokenize → explode chunk
    * indices → slice): zero shuffle, scales linearly, and the fan-out
    * is bounded by document length / stride. Public so tests pin the
    * production expressions on synthetic docs.
    */
  def chunkDf(docs: DataFrame, chunkTokens: Int = 40, overlap: Int = 8): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"degenerate chunk config ($chunkTokens, $overlap)")
    val stride = chunkTokens - overlap
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    t.withColumn("max_k",
        when(col("n") <= chunkTokens, 0L)
          .otherwise(expr(s"(n - $chunkTokens + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("max_k"))).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens.toLong), col("n") - col("chunk_id") * stride)
          .as("n_chunk_tokens"))
  }

  /** Chunking oracle at a given (chunkTokens, overlap) — same SQL for
    * every config, so the parameterization cannot drift.
    */
  private def docChunksSql(chunkTokens: Int, overlap: Int): String = {
    val c = chunkTokens
    val st = chunkTokens - overlap
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, toks, n,
       |         CASE WHEN n <= $c THEN 0 ELSE (n - $c + ${st - 1}) // $st END AS max_k
       |  FROM t),
       |ks AS (
       |  SELECT doc_id, toks, n, unnest(generate_series(0, max_k)) AS k
       |  FROM k)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |       array_to_string(list_slice(toks, k * $st + 1, k * $st + $c), ' ') AS chunk_text,
       |       CAST(least($c, n - k * $st) AS BIGINT) AS n_chunk_tokens
       |FROM ks""".stripMargin
  }

  val docChunks: QueryDef = QueryDef.sql(
    "x_doc_chunks", docChunksSql(chunkTokens = 40, overlap = 8)) { (s, d) =>
    chunkDf(Tables.documents(s, d))
  }

  /** Chunking at a 64-token window with 16-token overlap (stride 48) —
    * the longer-context configuration. Own oracle, pinning that the
    * (chunkTokens, overlap) parameterization is real on both sides.
    */
  val docChunksC64: QueryDef = QueryDef.sql(
    "x_doc_chunks_c64", docChunksSql(chunkTokens = 64, overlap = 16)) { (s, d) =>
    chunkDf(Tables.documents(s, d), chunkTokens = 64, overlap = 16)
  }

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val urlRe = "https?://[^ ]+"

  /** PII-style redaction on any (doc_id, text) frame: scrub email
    * addresses and URLs from the text (the sanitization pass of
    * training-data prep), with per-doc redaction counts for audit.
    * Pure per-row regex work — zero shuffle, fully codegen'd; patterns
    * are kept to the regex subset where Java regex (Spark) and RE2
    * (DuckDB) agree. Public so tests pin the production expressions on
    * synthetic docs (the test corpus contains no emails or URLs).
    */
  def redactDf(docs: DataFrame): DataFrame = {
    val t = lower(col("text"))
    docs.select(
      col("doc_id"),
      regexp_replace(regexp_replace(t, emailRe, "<EMAIL>"), urlRe, "<URL>").as("redacted"),
      size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(urlRe), lit(0))).cast("long").as("n_urls"))
  }

  val redact: QueryDef = QueryDef.sql(
    "x_redact",
    s"""SELECT doc_id,
       |       regexp_replace(
       |         regexp_replace(lower(text), '$emailRe', '<EMAIL>', 'g'),
       |         '$urlRe', '<URL>', 'g') AS redacted,
       |       CAST(len(regexp_extract_all(lower(text), '$emailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(lower(text), '$urlRe')) AS BIGINT) AS n_urls
       |FROM documents""".stripMargin) { (s, d) => redactDf(Tables.documents(s, d)) }

  /** Benchmark decontamination: flag training documents sharing any
    * 8-gram with the held-out benchmark set (here: every 25th doc) —
    * the standard train/test contamination check, which operates at
    * the n-gram level rather than document-level similarity (one
    * verbatim benchmark sentence inside an otherwise-unrelated doc
    * must flag it; Jaccard would miss it).
    *
    * Scale shape: an equi-join on the 8-gram between training
    * postings and the DISTINCT benchmark n-gram set. With a real
    * fixed-size eval set the bench side is tiny and AQE broadcasts
    * it; the training side never self-joins.
    */
  private val decontaminateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 7), ' ') AS ng
      |  FROM (SELECT doc_id, tok, generate_subscripts(tok, 1) AS i FROM toks)
      |  WHERE i + 7 <= len(tok)),
      |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 25 = 0)
      |SELECT g.doc_id, count(*) AS n_contaminated_ngrams
      |FROM g JOIN bench USING (ng)
      |WHERE g.doc_id % 25 != 0
      |GROUP BY 1""".stripMargin

  val decontaminate: QueryDef = QueryDef.sql(
    "x_decontaminate", decontaminateOracle) { (s, d) =>
    decontaminateDf(Tables.documents(s, d), col("doc_id") % 25 === 0)
  }

  /** The bench-gram kernel of the decontamination family, on any
    * (doc_id, text) frame with a caller-supplied benchmark-membership
    * predicate: the train docs' distinct 8-gram postings
    * (doc_id, shingle) and the DISTINCT benchmark gram set `ng`.
    */
  private def benchGrams(docs: DataFrame, isBench: Column): (DataFrame, DataFrame) = {
    val grams = shinglePostings(docs, 8)
    (grams.where(!isBench), grams.where(isBench).select(col("shingle").as("ng")).distinct())
  }

  /** Per train doc, how many of its `train` grams are in `bench`. No
    * broadcast hint: a REAL eval set is tiny and AQE auto-broadcasts
    * it; a large `isBench` selection (like the demo's every-25th-doc)
    * degrades gracefully to a shuffled equi-join instead of collecting
    * terabytes to the driver.
    */
  private def benchHits(train: DataFrame, bench: DataFrame): DataFrame =
    train.join(bench, col("shingle") === col("ng"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_ngrams"))

  /** x_decontaminate's dataflow on any (doc_id, text) frame. */
  def decontaminateDf(docs: DataFrame, isBench: Column): DataFrame = {
    val (train, bench) = benchGrams(docs, isBench)
    benchHits(train, bench)
  }

  /** Hit starts shared by the span report and the cut: 1-based
    * positions in TRAIN docs where a benchmark `gram`-gram begins —
    * `posexplode` of the doc's [[StringShingles]], whose 0-based index
    * is the gram's start token. The positional gram stream is pinned
    * once (lazy localCheckpoint) and read by both the bench derivation
    * and the probe side; building it is per-row, with no exchange.
    */
  private def deconHitStarts(docs: DataFrame, isBench: Column, gram: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), posexplode(StringShingles(tokens(col("text")), gram)).as(Seq("i", "ng")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"), col("ng"))
      .localCheckpoint(eager = false)
    val bench = grams.where(isBench).select(col("ng")).distinct()
    grams.where(!isBench).join(bench, "ng").select("doc_id", "pos")
  }

  /** The oracle of [[deconHitStarts]]: `r(doc_id, pos)`, after the
    * tokenized `toks` and the positional gram CTE `g`.
    */
  private val deconHitStartsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(list_slice(tok, i, i + 7), ' ') AS ng
      |  FROM (SELECT doc_id, tok, generate_subscripts(tok, 1) AS i FROM toks)
      |  WHERE i + 7 <= len(tok)),
      |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 25 = 0),
      |r AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN bench USING (ng)
      |  WHERE g.doc_id % 25 != 0),""".stripMargin

  /** Span-level decontamination — WHERE the benchmark leaks into each
    * training document: every maximal token range covered by
    * benchmark-matching `gram`-gram occurrences, as (span_start,
    * span_end, span_tokens, n_grams). x_decontaminate says WHICH docs
    * leak and how much; this is the operator a production pipeline
    * runs to CUT the contaminated text instead of dropping the whole
    * document (the surgical-decontamination pass).
    *
    * Unlike the repeated-span miner's gaps-and-islands (which merges
    * only CONSECUTIVE start positions), spans here are true interval
    * unions: two hits whose covered ranges overlap or touch merge into
    * one span even when intermediate grams are clean — computed with a
    * running `max(pos + gram - 1)` over earlier starts (per-doc window,
    * state bounded by document length) marking group breaks where a
    * start clears the covered frontier.
    *
    * Scale shape: the benchmark side is a DISTINCT gram set of a
    * fixed-size eval suite — tiny in production, AQE broadcasts it
    * (no hint, mirroring [[decontaminateDf]]'s rationale); the train
    * side is positional gram postings bounded by corpus token count,
    * pinned once (lazy localCheckpoint) and read by both the bench
    * derivation and the probe; the merge is one shuffle by doc_id.
    */
  def deconSpansDf(docs: DataFrame, isBench: Column, gram: Int): DataFrame = {
    val hot = deconHitStarts(docs, isBench, gram)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // covered frontier BEFORE this start; a start past frontier+1 opens
    // a new span (overlap-or-touch merges, strictly-past splits)
    val frontier = max(col("pos") + (gram - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val marked = hot.withColumn("brk",
      when(col("pos") <= coalesce(frontier, lit(-1L)) + 1, 0L).otherwise(1L))
    val grouped = marked.withColumn("island",
      sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    grouped.groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + (gram - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  val deconSpans: QueryDef = QueryDef.sql(
    "x_decon_spans",
    s"""$deconHitStartsSql
       |m AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos <= coalesce(max(pos + 7) OVER (
       |                PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |              THEN 0 ELSE 1 END AS brk
       |  FROM r),
       |i AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM m)
       |SELECT doc_id,
       |       min(pos) AS span_start,
       |       max(pos) + 7 AS span_end,
       |       max(pos) + 7 - min(pos) + 1 AS span_tokens,
       |       CAST(count(*) AS BIGINT) AS n_grams
       |FROM i GROUP BY doc_id, island""".stripMargin) { (s, d) =>
    deconSpansDf(Tables.documents(s, d), col("doc_id") % 25 === 0, gram = 8)
  }

  /** Surgical decontamination CUT — the output stage the span report
    * feeds: excise every token covered by a benchmark-matching 8-gram
    * from each TRAIN document and rebuild the cleaned stream, keeping
    * (doc_id, n_tokens, n_kept, clean_text) for every training doc
    * (fully-contaminated docs keep 0 tokens; benchmark docs are not
    * part of the training corpus and don't appear). Shares
    * [[deconHitStarts]] with the span report and
    * [[TextOps.cutCoveredPositions]] with exact-substring dedup's cut
    * — same coverage-explode + anti-join + per-doc rebuild, different
    * cover set.
    */
  def deconCutFrom(docs: DataFrame, frame: DataFrame, isBench: Column,
      gram: Int): DataFrame = {
    val covered = deconHitStarts(docs, isBench, gram)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (gram - 1))).as("p"))
      .distinct()
    TextOps.cutCoveredPositions(docs.where(!isBench), frame.where(!isBench), covered)
  }

  /** [[deconCutFrom]] over ad-hoc docs (tests). */
  def deconCutDf(docs: DataFrame, isBench: Column, gram: Int): DataFrame =
    deconCutFrom(docs, TextOps.tokenHashFrame(docs), isBench, gram)

  val deconCut: QueryDef = QueryDef.sql(
    "x_decon_cut",
    s"""$deconHitStartsSql
       |cov AS (SELECT DISTINCT doc_id, p FROM
       |  (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p FROM r)),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks.tok)),
       |    i -> struct_pack(p := CAST(i AS BIGINT), tok := toks.tok[i]))) AS pt
       |  FROM toks WHERE doc_id % 25 != 0),
       |k AS (
       |  SELECT tok.doc_id, tok.pt.p AS p, tok.pt.tok AS tok
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pt.p = cov.p
       |  WHERE cov.p IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY p) AS clean_text
       |  FROM k GROUP BY 1),
       |n AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens
       |      FROM toks WHERE doc_id % 25 != 0)
       |SELECT doc_id, n_tokens,
       |       coalesce(n_kept, 0) AS n_kept,
       |       coalesce(clean_text, '') AS clean_text
       |FROM n LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, d) =>
    deconCutFrom(Tables.documents(s, d), TextQueries.tokFrame(s, d),
      col("doc_id") % 25 === 0, gram = 8)
  }

  /** Fraction-mode decontamination: instead of any-hit flagging, score
    * every training document by the FRACTION of its distinct 8-grams
    * that appear in the benchmark set, and gate on a threshold — how
    * production pipelines actually distinguish a stray idiom (one
    * shared n-gram in a long document) from near-verbatim benchmark
    * contamination. Output keeps every scorable training doc, so the
    * oracle hash pins the zero-hit majority as much as the flagged
    * tail; `flagged` compares 20·hits ≥ n_grams — exact integers, no
    * float-threshold edge.
    *
    * Scale shape: the standalone any-hit join plus one per-doc gram
    * count (an aggregation of the SAME postings frame) and a left
    * join keyed by doc_id — no new join class.
    */
  def decontaminateFracDf(docs: DataFrame, isBench: Column): DataFrame = {
    val (train, bench) = benchGrams(docs, isBench)
    val counts = train.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    val hits = coalesce(col("n_contaminated_ngrams"), lit(0L))
    counts.join(benchHits(train, bench), Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_ngrams"), hits.as("n_contaminated_ngrams"),
        (hits.cast("double") / col("n_ngrams")).as("contamination_frac"),
        when(hits * 20 >= col("n_ngrams"), 1L).otherwise(0L).as("flagged"))
  }

  val decontaminateFrac: QueryDef = QueryDef.sql(
    "x_decontaminate_frac",
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 7), ' ') AS ng
      |  FROM (SELECT doc_id, tok, generate_subscripts(tok, 1) AS i FROM toks)
      |  WHERE i + 7 <= len(tok)),
      |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 25 = 0),
      |cnt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
      |  FROM g WHERE doc_id % 25 != 0 GROUP BY 1),
      |hit AS (
      |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM g JOIN bench USING (ng) WHERE g.doc_id % 25 != 0 GROUP BY 1)
      |SELECT c.doc_id, c.n_ngrams,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated_ngrams,
      |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / c.n_ngrams AS contamination_frac,
      |       CAST(CASE WHEN coalesce(h.n_hits, 0) * 20 >= c.n_ngrams THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM cnt c LEFT JOIN hit h USING (doc_id)""".stripMargin) { (s, d) =>
    decontaminateFracDf(Tables.documents(s, d), col("doc_id") % 25 === 0)
  }

  /** Bloom-prefiltered decontamination — IDENTICAL output to
    * x_decontaminate through a different physical path: the benchmark
    * 8-gram set is collapsed once into a `bloom_filter_agg` sketch (a
    * single binary value, riding as a scalar subquery), applied to the
    * training-gram stream as a row-level `might_contain` pre-filter;
    * only the sketch's survivors reach the exact equi-join, which
    * kills the Bloom's false positives. False negatives cannot occur, so the exact join
    * sees a superset of the true hits and the result is bit-identical
    * — the same DuckDB oracle hash-checks this plan.
    *
    * Scale rationale: at 100 TB the dominant cost of the plain
    * formulation is shuffling EVERY training gram to meet a bench
    * partition (or building a giant broadcast hash of the bench set).
    * Here the bench set crosses the wire once as kilobytes of sketch,
    * the pre-filter runs inside the scan's codegen stage, and only
    * the (tiny) candidate stream pays the join — approximation in the
    * pre-filter, exactness in the answer. This is the explicit form
    * of the runtime row-level filtering Spark injects for selective
    * joins, applied where the optimizer cannot see the selectivity.
    */
  def decontaminateBloomDf(docs: DataFrame, isBench: Column): DataFrame = {
    val (train, bench) = benchGrams(docs, isBench)
    // the sketch rides as a SCALAR SUBQUERY (might_contain's analysis
    // contract): one tiny aggregate result injected into the scan's
    // filter — no join in the pre-filter at all
    val bloom = bench.agg(
      org.apache.spark.sql.graft.BloomFilterAgg(xxhash64(col("ng"))).as("bf"))
    benchHits(train.where(org.apache.spark.sql.graft.BloomMightContain(
      bloom.scalar(), xxhash64(col("shingle")))), bench)
  }

  val decontaminateBloom: QueryDef = QueryDef.sql(
    "x_decontaminate_bloom", decontaminateOracle) { (s, d) =>
    decontaminateBloomDf(Tables.documents(s, d), col("doc_id") % 25 === 0)
  }

  /** Per-benchmark-item leakage report — decontaminate's REVERSE
    * direction: for each benchmark document, how many distinct
    * training documents share at least one k-gram with it, and how
    * many of its grams are the ones leaking. x_decontaminate answers
    * "which training docs must go"; this answers the eval-integrity
    * question "which benchmark items are already compromised, and how
    * badly" — the report an eval owner reads before trusting a score.
    *
    * Scale shape: the same bench⋈train gram equi-join as
    * x_decontaminate (bench side tiny and broadcastable in
    * production), then count(DISTINCT) per bench doc — two-phase
    * distinct aggregation, keyed by bench doc, output bounded by
    * |bench|. No new join class.
    */
  private def deconReportSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + ${k - 1}), ' ') AS ng
       |  FROM (SELECT doc_id, tok, generate_subscripts(tok, 1) AS i FROM toks)
       |  WHERE i + ${k - 1} <= len(tok))
       |SELECT b.doc_id AS bench_id,
       |       CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
       |       CAST(count(DISTINCT b.ng) AS BIGINT) AS n_leaked_ngrams
       |FROM g b JOIN g t ON b.ng = t.ng
       |WHERE b.doc_id % 25 = 0 AND t.doc_id % 25 != 0
       |GROUP BY 1""".stripMargin

  private[graft] def deconReportOf(docs: DataFrame, isBench: Column,
      k: Int): DataFrame = {
    val grams = shinglePostings(docs, k)
    val bench = grams.where(isBench)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val train = grams.where(!isBench)
      .select(col("doc_id").as("train_id"), col("shingle"))
    bench.join(train, "shingle")
      .groupBy("bench_id")
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("shingle")).as("n_leaked_ngrams"))
  }

  val deconReport: QueryDef = QueryDef.sql(
    "x_decon_report", deconReportSql(k = 8)) { (s, d) =>
    deconReportOf(Tables.documents(s, d), col("doc_id") % 25 === 0, k = 8)
  }

  /** k=6: shorter grams match more loosely — the sensitivity config an
    * eval owner escalates to when the k=8 report comes back clean but
    * scores still look contaminated.
    */
  val deconReportK6: QueryDef = QueryDef.sql(
    "x_decon_report_k6", deconReportSql(k = 6)) { (s, d) =>
    deconReportOf(Tables.documents(s, d), col("doc_id") % 25 === 0, k = 6)
  }

  /** Domain-mixture reweighting: per-source token shares and the
    * resampling weight that would equalize every source's token
    * contribution — the "compute the mixing weights" step between
    * corpus profiling and sampled training-mix assembly (the target
    * mix here is uniform; any target vector composes the same way).
    *
    * Scale shape: one narrow aggregation shuffled by source, then
    * window totals over the AGGREGATED rows — cardinality = number of
    * sources (a catalog, not data), so the unpartitioned window is
    * bounded. Shares/weights divide exact long sums, so the doubles
    * are engine-reproducible.
    */
  val mixWeights: QueryDef = QueryDef.sql(
    "x_mix_weights",
    """WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, n_tokens,
      |       CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
      |       (1.0 / count(*) OVER ()) /
      |         nullif(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 0) AS weight
      |FROM s""") { (s, d) =>
    val bySource = Tables.documents(s, d).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val all = Window.partitionBy() // rows = |sources|: bounded, see scaladoc
    // nullif guards the zero-token-source edge: a 0 share must yield a
    // deterministic NULL weight on BOTH engines, not an engine-specific
    // division-by-zero result (Infinity vs NULL would break the hash).
    bySource.select(
      col("source"), col("n_docs"), col("n_tokens"),
      (col("n_tokens").cast("double") / sum("n_tokens").over(all)).as("token_share"),
      ((lit(1.0) / count(lit(1)).over(all)) /
        nullif(col("n_tokens").cast("double") / sum("n_tokens").over(all), lit(0.0))).as("weight"))
  }

  /** The composed pipelines' shared tail: chunk the `surv` docs into
    * x_doc_chunks' windows and pack the chunks into ~2000-token
    * training shards via the distributed prefix sum.
    */
  private def chunkPackDf(docs: DataFrame, surv: DataFrame): DataFrame =
    packCumSum(chunkDf(docs.join(surv, "doc_id"))
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens")),
      Seq("doc_id", "chunk_id"), "n_chunk_tokens", 2000L)

  /** [[chunkPackDf]]'s oracle CTEs over a `surv(doc_id)` CTE. */
  private val chunkPackSql: String =
    s"""ct AS (
       |  SELECT d.doc_id,
       |         CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n
       |  FROM documents d JOIN surv USING (doc_id)),
       |ck AS (
       |  SELECT doc_id, n, CASE WHEN n <= 40 THEN 0 ELSE (n - 40 + 31) // 32 END AS max_k
       |  FROM ct),
       |cks AS (
       |  SELECT doc_id, n, unnest(generate_series(0, max_k)) AS k FROM ck),
       |chunks AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |         CAST(least(40, n - k * 32) AS BIGINT) AS n_chunk_tokens
       |  FROM cks),
       |packed AS (
       |  SELECT doc_id, chunk_id, n_chunk_tokens,
       |         ${packCumSumSql(Seq("doc_id", "chunk_id"), "n_chunk_tokens")}
       |  FROM chunks)
       |SELECT doc_id, chunk_id, n_chunk_tokens, cum_tokens,
       |       ${shardIdSql("n_chunk_tokens", 2000L)}
       |FROM packed""".stripMargin

  /** The full training-data preprocessing DAG as ONE query:
    * curate (quality floor → exact-dedup keeper → deterministic
    * sample) → drop benchmark docs and anything decontamination flags
    * → chunk the survivors into context windows → pack chunks into
    * ~2000-token training shards via the distributed prefix sum.
    * Every stage is an operator that is independently oracle-checked
    * above (x_corpus_curate, x_decontaminate, x_doc_chunks,
    * x_token_pack); this query pins that they COMPOSE — the shape a
    * real pre-training data-prep job actually runs end to end.
    *
    * Scale: inherits each stage's shape — no stage introduces a new
    * join or shuffle class beyond its standalone form; the contaminated
    * set is removed with a left-anti join on doc_id.
    */
  val pipelineE2e: QueryDef = QueryDef.sql(
    "x_pipeline_e2e",
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
       |         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, lang, norm,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) *
       |           (1 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / nullif(len(toks), 0)) AS quality
       |  FROM t),
       |qf AS (SELECT * FROM q WHERE n_tokens >= 5 AND quality >= 0.3),
       |keep AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
       |  FROM qf),
       |cur AS (
       |  SELECT doc_id FROM (SELECT doc_id, $hashBucketSql AS bucket FROM keep WHERE rn = 1)
       |  WHERE bucket < 500),
       |dtoks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
       |g8 AS (
       |  SELECT DISTINCT doc_id, array_to_string(list_slice(tok, i, i + 7), ' ') AS ng
       |  FROM (SELECT doc_id, tok, generate_subscripts(tok, 1) AS i FROM dtoks)
       |  WHERE i + 7 <= len(tok)),
       |bench AS (SELECT DISTINCT ng FROM g8 WHERE doc_id % 25 = 0),
       |contam AS (
       |  SELECT DISTINCT g8.doc_id FROM g8 JOIN bench USING (ng) WHERE g8.doc_id % 25 != 0),
       |surv AS (
       |  SELECT doc_id FROM cur
       |  WHERE doc_id % 25 != 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |$chunkPackSql""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val contaminated = decontaminateDf(docs, col("doc_id") % 25 === 0).select("doc_id")
    chunkPackDf(docs, curatedDf(s, d).select("doc_id").where(col("doc_id") % 25 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti"))
  }

  /** A Gopher rule-filter config: the word-count floor, the
    * distinct-word-ratio floor and the top-2-gram character-fraction
    * cap (the word-count cap is the fixed [[WordCap]]).
    */
  final case class GopherRule(minWords: Int, minDistinct: Double, maxTop2: Double)

  object GopherRule {
    /** x_gopher_filter's config, the quality gate of every composed query. */
    val Default: GopherRule = GopherRule(20, 0.30, 0.10)
    /** Tighter repetition bounds — the setting a high-quality-subset pass would use. */
    val Strict: GopherRule = GopherRule(30, 0.40, 0.08)
  }

  private final val WordCap = 100000

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1 repetition/quality
    * rules, adapted to this corpus's signals): a document keeps iff
    *   - word count within [minWords, [[WordCap]]]
    *   - mean word length within [3, 10]
    *   - distinct-word ratio ≥ minDistinct (the word-level repetition
    *     rule — low ratio = the doc is the same words over and over)
    *   - fraction of characters in the most frequent word 2-gram
    *     ≤ maxTop2 (the "top n-gram character fraction" rule)
    * Emits the evidence columns alongside kept ∈ {0,1} so threshold
    * choices are auditable downstream, and so the filter composes with
    * the curation pipeline (filter kept=1) without recomputation.
    *
    * Scale shape: word stats are per-row array ops (no shuffle); the
    * top 2-gram is one (doc, gram) partial-aggregated count, a per-doc
    * argmin aggregate and a 1:1 join back — all keyed by doc_id,
    * embarrassingly parallel at any corpus size. All ratios are single
    * divisions of exact integers, so the output is bit-identical
    * across engines and partitionings (no float summation anywhere).
    */
  def gopherFilterDf(docs: DataFrame, rule: GopherRule): DataFrame = {
    val stats = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w).cast("long"))
          .as("sum_chars"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val grams = docs
      .select(col("doc_id"), explode(StringShingles(tokens(col("text")), 2)).as("gram"))
    // top-1 selection as an ARGMIN aggregate over struct(-cnt, gram)
    // rather than a row_number window, which would need the rows
    // clustered by doc_id: as an aggregate both phases combine
    // map-side, so the only full-width shuffle is the partial-aggregated
    // (doc_id, gram) counts. Same row as the oracle's rank:
    // lexicographic struct min = cnt desc, gram asc.
    val top = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(min(struct((-col("cnt")).as("neg_cnt"), col("gram").as("gram"),
        col("cnt").as("cnt"))).as("t"))
      // gram chars exclude the joining space — cnt occurrences cover
      // cnt * that many characters of the document's word mass
      .select(col("doc_id"),
        (col("t.cnt") * (length(col("t.gram")) - 1)).as("top2_chars"))
    val scored = stats.join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        (col("sum_chars").cast("double") / nullif(col("n_words"), lit(0L)))
          .as("mean_word_len"),
        (col("n_distinct").cast("double") / nullif(col("n_words"), lit(0L)))
          .as("distinct_word_ratio"),
        // overlapping occurrences of a self-overlapping gram ("a a" in
        // "a a a a") can make cnt × gram-chars exceed the doc's word
        // mass; clamp so the column keeps its documented fraction
        // semantics for downstream threshold tuning
        least(coalesce(col("top2_chars").cast("double") / nullif(col("sum_chars"), lit(0L)),
          lit(0.0)), lit(1.0)).as("top_2gram_char_frac"))
    scored.withColumn("kept",
      when(col("n_words").between(rule.minWords, WordCap) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("distinct_word_ratio") >= rule.minDistinct &&
        col("top_2gram_char_frac") <= rule.maxTop2, 1L).otherwise(0L))
  }

  private def gopherFilterSql(rule: GopherRule): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
       |stats AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS sum_chars,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM t),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
       |  FROM t),
       |gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
       |top AS (
       |  SELECT doc_id, cnt * (length(gram) - 1) AS top2_chars FROM gc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) = 1),
       |scored AS (
       |  SELECT s.doc_id, s.n_words,
       |         CAST(s.sum_chars AS DOUBLE) / nullif(s.n_words, 0) AS mean_word_len,
       |         CAST(s.n_distinct AS DOUBLE) / nullif(s.n_words, 0) AS distinct_word_ratio,
       |         least(coalesce(CAST(top.top2_chars AS DOUBLE) / nullif(s.sum_chars, 0), 0.0),
       |               1.0) AS top_2gram_char_frac
       |  FROM stats s LEFT JOIN top ON s.doc_id = top.doc_id)
       |SELECT doc_id, n_words, mean_word_len, distinct_word_ratio, top_2gram_char_frac,
       |       CAST(CASE WHEN n_words BETWEEN ${rule.minWords} AND $WordCap
       |                  AND mean_word_len BETWEEN 3.0 AND 10.0
       |                  AND distinct_word_ratio >= ${rule.minDistinct}
       |                  AND top_2gram_char_frac <= ${rule.maxTop2}
       |            THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM scored""".stripMargin

  val gopherFilter: QueryDef = QueryDef.sql(
    "x_gopher_filter", gopherFilterSql(GopherRule.Default)) { (s, d) =>
    gopherFilterDf(Tables.documents(s, d), GopherRule.Default)
  }

  /** The strict config; same builder and oracle on both sides. */
  val gopherFilterStrict: QueryDef = QueryDef.sql(
    "x_gopher_filter_strict", gopherFilterSql(GopherRule.Strict)) { (s, d) =>
    gopherFilterDf(Tables.documents(s, d), GopherRule.Strict)
  }

  /** Gopher-gated preprocessing pipeline: rule filter (kept=1) →
    * exact-dedup keeper over normalized text → chunk → shard pack.
    * The x_pipeline_e2e composition with the NEW rule filter as the
    * quality gate — pins that x_gopher_filter composes with the
    * dedup/chunk/pack stages (each independently oracle-checked)
    * without recomputation or a new shuffle class.
    */
  val pipelineGopher: QueryDef = QueryDef.sql(
    "x_pipeline_gopher",
    s"""WITH gf AS (
       |${gopherFilterSql(GopherRule.Default)}),
       |kd AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN gf ON d.doc_id = gf.doc_id AND gf.kept = 1),
       |nrm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM kd),
       |keep AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
       |  FROM nrm),
       |surv AS (SELECT doc_id FROM keep WHERE rn = 1),
       |$chunkPackSql""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val kept = gopherFilterDf(docs, GopherRule.Default).where(col("kept") === 1).select("doc_id")
    chunkPackDf(docs, exactKeepers(docs.join(kept, "doc_id")).select("doc_id"))
  }

  /** Second Gopher evidence rule (Rae et al. 2021 §A1.1 formatting
    * signals): symbol-to-word ratio and bullet-line fraction. A doc
    * keeps iff
    *   - (count of '#' + non-overlapping '...' occurrences) / words
    *     ≤ symNum/symDen
    *   - (lines starting with a bullet marker) / lines ≤ bulNum/bulDen
    * Thresholds are RATIONALS compared as cross-multiplied exact
    * integers (n_symbols * symDen <= symNum * n_words), so `kept` never
    * touches a float; the double ratio columns are evidence only, each
    * a single division of exact integers — the same bit-stable pattern
    * as gopherFilterDf. Scale shape: per-row string/array ops, zero
    * shuffle, embarrassingly parallel at any corpus size.
    */
  def gopherSymbolsDf(docs: DataFrame, symNum: Int, symDen: Int,
      bulNum: Int, bulDen: Int): DataFrame = {
    val counted = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      // '#' count + non-overlapping '...' count; both engines replace
      // leftmost-non-overlapping, and the '...' length delta is always
      // a multiple of 3, so the double division casts back exactly
      (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
        .cast("long").as("n_hash"),
      ((length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
        .cast("long").as("n_ellipsis"),
      split(col("text"), "\n").as("lines"))
    val stats = counted.select(
      col("doc_id"), col("n_words"),
      (col("n_hash") + col("n_ellipsis")).as("n_symbols"),
      size(col("lines")).cast("long").as("n_lines"),
      size(filter(col("lines"),
          l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
        .cast("long").as("n_bullet"))
    stats.select(
      col("doc_id"), col("n_words"), col("n_lines"),
      coalesce(col("n_symbols").cast("double") / nullif(col("n_words"), lit(0L)),
        lit(0.0)).as("symbol_word_ratio"),
      coalesce(col("n_bullet").cast("double") / nullif(col("n_lines"), lit(0L)),
        lit(0.0)).as("bullet_line_frac"),
      when(col("n_symbols") * lit(symDen) <= col("n_words") * lit(symNum) &&
          col("n_bullet") * lit(bulDen) <= col("n_lines") * lit(bulNum), 1L)
        .otherwise(0L).as("kept"))
  }

  private def gopherSymbolsSql(symNum: Int, symDen: Int,
      bulNum: Int, bulDen: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
       |         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |           + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
       |           AS n_symbols,
       |         string_split(text, chr(10)) AS lines
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n_words, n_symbols,
       |         CAST(len(lines) AS BIGINT) AS n_lines,
       |         CAST(len(list_filter(lines,
       |           l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS BIGINT) AS n_bullet
       |  FROM t)
       |SELECT doc_id, n_words, n_lines,
       |       coalesce(CAST(n_symbols AS DOUBLE) / nullif(n_words, 0), 0.0) AS symbol_word_ratio,
       |       coalesce(CAST(n_bullet AS DOUBLE) / nullif(n_lines, 0), 0.0) AS bullet_line_frac,
       |       CAST(CASE WHEN n_symbols * $symDen <= $symNum * n_words
       |                  AND n_bullet * $bulDen <= $bulNum * n_lines
       |            THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM s""".stripMargin

  val gopherSymbols: QueryDef = QueryDef.sql(
    "x_gopher_symbols",
    gopherSymbolsSql(symNum = 1, symDen = 10, bulNum = 9, bulDen = 10)) { (s, d) =>
    gopherSymbolsDf(Tables.documents(s, d), symNum = 1, symDen = 10, bulNum = 9, bulDen = 10)
  }

  /** Water-filling token-budget allocation — the source-balancing
    * decision a mixture designer actually executes: given a total
    * token budget B = total × num/den, find the water level L with
    * Σ min(nᵢ, L) = B and give every source min(nᵢ, L) tokens —
    * small sources keep everything, the big ones are capped at a
    * COMMON level (the continuous form of "cap every source at X"
    * where X is solved for, not guessed). All arithmetic is exact
    * integers: the level's closed form is found by sorting sources
    * ascending by size and testing, per rank j with prefix sum Pⱼ and
    * rⱼ sources remaining, the integer inequality
    * prev·rⱼ ≤ B−Pⱼ < nⱼ·rⱼ (exactly one rank passes when B < total);
    * capped sources get ⌊(B−Pⱼ)/rⱼ⌋ with the division remainder
    * distributed one token each to the first capped sources in sort
    * order, so Σ alloc_tokens == B EXACTLY (no float level, no
    * rounding drift). B ≥ total degenerates to everyone-uncapped.
    *
    * Scale shape: one map-side-partial aggregation to |sources| rows,
    * then windows over that bounded frame (the x_mix_weights
    * contract: |sources| ≪ corpus, a driver-sized single partition)
    * — the corpus-sized scan never shuffles.
    */
  private def tokenBudgetSql(num: Int, den: Int): String =
    s"""WITH s AS (
       |  SELECT source, CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_tokens,
       |         CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS idx,
       |         count(*) OVER () AS m,
       |         sum(n_tokens) OVER () AS total,
       |         coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
       |         coalesce(lag(n_tokens) OVER (ORDER BY n_tokens, source), 0) AS prev_n
       |  FROM s),
       |v AS (
       |  SELECT *, (total * $num) // $den AS budget, m - idx + 1 AS rem FROM w),
       |f AS (
       |  SELECT *, (budget - pfx >= prev_n * rem AND budget - pfx < n_tokens * rem) AS valid
       |  FROM v),
       |j AS (SELECT *, min(CASE WHEN valid THEN idx END) OVER () AS j_idx FROM f),
       |lv AS (
       |  SELECT *,
       |         max(CASE WHEN idx = j_idx THEN (budget - pfx) // rem END) OVER () AS lev,
       |         max(CASE WHEN idx = j_idx
       |             THEN (budget - pfx) - rem * ((budget - pfx) // rem) END) OVER () AS extra
       |  FROM j),
       |a AS (
       |  SELECT source, n_tokens,
       |         CAST(CASE WHEN j_idx IS NULL OR idx < j_idx THEN n_tokens
       |              ELSE lev + (CASE WHEN idx - j_idx + 1 <= extra THEN 1 ELSE 0 END)
       |              END AS BIGINT) AS alloc_tokens
       |  FROM lv)
       |SELECT source, n_tokens, alloc_tokens,
       |       CAST(CASE WHEN alloc_tokens < n_tokens THEN 1 ELSE 0 END AS BIGINT) AS capped
       |FROM a""".stripMargin

  private[graft] def tokenBudgetOf(docs: org.apache.spark.sql.DataFrame,
      num: Int, den: Int): org.apache.spark.sql.DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"budget fraction must be in (0, 1]: $num/$den")
    val bySource = docs.groupBy("source").agg(
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val all = Window.partitionBy() // rows = |sources|: bounded, see scaladoc
    val ord = Window.partitionBy().orderBy(col("n_tokens"), col("source"))
    val ordPfx = ord.rowsBetween(Window.unboundedPreceding, -1)
    val w = bySource
      .withColumn("idx", row_number().over(ord).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("total", sum("n_tokens").over(all))
      .withColumn("pfx", coalesce(sum("n_tokens").over(ordPfx), lit(0L)))
      .withColumn("prev_n", coalesce(lag("n_tokens", 1).over(ord), lit(0L)))
      // `div` = exact integer division on both engines; every operand
      // that survives the CASE masks below is non-negative, so the
      // floor-vs-trunc divergence on negatives can never surface
      .withColumn("budget", expr(s"(total * $num) div $den"))
      .withColumn("rem", col("m") - col("idx") + 1)
      .withColumn("valid",
        col("budget") - col("pfx") >= col("prev_n") * col("rem") &&
          col("budget") - col("pfx") < col("n_tokens") * col("rem"))
    val lv = w.withColumn("j_idx", min(when(col("valid"), col("idx"))).over(all))
      .withColumn("lev",
        max(when(col("idx") === col("j_idx"), expr("(budget - pfx) div rem"))).over(all))
      .withColumn("extra",
        max(when(col("idx") === col("j_idx"),
          col("budget") - col("pfx") - col("rem") * expr("(budget - pfx) div rem"))).over(all))
    lv.withColumn("alloc_tokens",
        when(col("j_idx").isNull || col("idx") < col("j_idx"), col("n_tokens"))
          .otherwise(col("lev") +
            when(col("idx") - col("j_idx") + 1 <= col("extra"), 1L).otherwise(0L)))
      .withColumn("capped",
        when(col("alloc_tokens") < col("n_tokens"), 1L).otherwise(0L))
      .select("source", "n_tokens", "alloc_tokens", "capped")
  }

  val tokenBudget: QueryDef = QueryDef.sql(
    "x_token_budget", tokenBudgetSql(num = 1, den = 2)) { (s, d) =>
    tokenBudgetOf(Tables.documents(s, d), num = 1, den = 2)
  }

  /** Exact length-percentile trim — the outlier-length filter
    * (drop the shortest `loPct`% and longest `100−hiPct`% of docs by
    * token count) computed with EXACT order statistics, not
    * approx_percentile: the length DISTRIBUTION is aggregated by
    * value — a frame bounded by |distinct lengths|, never corpus size
    * — cumulative counts run on that frame, and each doc joins back
    * its own length's (cnt_lt, cnt_le). Keep iff
    * cnt_le·100 ≥ loPct·N AND cnt_lt·100 ≤ hiPct·N — cross-multiplied
    * integers, so the cut is bit-stable where a float percentile
    * threshold has boundary edges. Ties share a length value and so
    * always decide the same way.
    *
    * Scale shape: one map-side-partial length count; the windows run
    * on the value-bounded frequency frame (the x_mix_weights
    * discipline — single-partition is fine because the frame is
    * dictionary-sized); the join back broadcasts that tiny frame.
    * This is the exact-at-scale counterpart of x_quantiles'
    * sketch path: order statistics by value-keyed aggregation.
    */
  private def lengthTrimSql(loPct: Int, hiPct: Int): String =
    s"""WITH lens AS (
       |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |freq AS (SELECT n_tokens, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY n_tokens),
       |cum AS (
       |  SELECT n_tokens, cnt,
       |         CAST(sum(cnt) OVER (ORDER BY n_tokens
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_le,
       |         CAST(sum(cnt) OVER () AS BIGINT) AS n_total
       |  FROM freq)
       |SELECT l.doc_id, l.n_tokens,
       |       CAST(c.cnt_le AS DOUBLE) / c.n_total AS pct_le,
       |       CAST(CASE WHEN c.cnt_le * 100 >= $loPct * c.n_total
       |                  AND (c.cnt_le - c.cnt) * 100 <= $hiPct * c.n_total
       |            THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM lens l JOIN cum c USING (n_tokens)""".stripMargin

  private[graft] def lengthTrimOf(docs: DataFrame, loPct: Int, hiPct: Int): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      s"percentile window must satisfy 0 <= lo < hi <= 100: [$loPct, $hiPct]")
    val lens = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val freq = lens.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    // |distinct lengths|-row frame: value-bounded, see scaladoc
    val byLen = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val cum = freq
      .withColumn("cnt_le", sum(col("cnt")).over(byLen))
      .withColumn("n_total", sum(col("cnt")).over(all))
    lens.join(broadcast(cum), "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        (col("cnt_le").cast("double") / col("n_total")).as("pct_le"),
        when(col("cnt_le") * 100 >= lit(loPct) * col("n_total") &&
          (col("cnt_le") - col("cnt")) * 100 <= lit(hiPct) * col("n_total"), 1L)
          .otherwise(0L).as("kept"))
  }

  val lengthTrim: QueryDef = QueryDef.sql(
    "x_length_trim", lengthTrimSql(loPct = 5, hiPct = 95)) { (s, d) =>
    lengthTrimOf(Tables.documents(s, d), loPct = 5, hiPct = 95)
  }

  /** The tighter window (10–90): a stricter trim must keep a subset —
    * same parameterized builder and oracle on both sides.
    */
  val lengthTrimP10: QueryDef = QueryDef.sql(
    "x_length_trim_p10", lengthTrimSql(loPct = 10, hiPct = 90)) { (s, d) =>
    lengthTrimOf(Tables.documents(s, d), loPct = 10, hiPct = 90)
  }

  /** Cross-modal curation gate — the text tier and the embedding tier
    * composed on the shared document identity (vec_id = doc_id): a doc
    * survives iff it passes the Gopher rule filter AND is not pruned
    * by embedding-space density (the x_knn_density drop). Both gates
    * are independently oracle-checked operators; this query pins that
    * they compose without recomputation. Docs whose vector found no
    * LSH candidate are trivially density-kept (the left-join default),
    * mirroring x_knn_density's contract. Evidence columns from both
    * tiers ride along so the two-gate decision is auditable.
    *
    * Scale shape: the text gate is the one doc-keyed shuffle of
    * x_gopher_filter; the density gate is the banded candidate
    * discipline of the kNN family; composition is a single 1:1
    * left equi-join on the identity key — no new join class.
    */
  val pipelineHybrid: QueryDef = QueryDef.sql(
    "x_pipeline_hybrid",
    s"""WITH gf AS (
       |${gopherFilterSql(GopherRule.Default)}),
       |kd AS (
       |${SimilarityQueries.knnDensitySql(bands = 4, r = 8, k = 5, tau = 0.25, minClose = 3)})
       |SELECT gf.doc_id, gf.n_words,
       |       CAST(coalesce(kd.n_close, 0) AS BIGINT) AS n_close,
       |       gf.kept AS kept_text,
       |       CAST(coalesce(kd.kept, 1) AS BIGINT) AS kept_embed,
       |       CAST(gf.kept * coalesce(kd.kept, 1) AS BIGINT) AS kept
       |FROM gf LEFT JOIN kd ON gf.doc_id = kd.vec_id""".stripMargin) { (s, d) =>
    val text = gopherFilterDf(Tables.documents(s, d), GopherRule.Default)
      .select(col("doc_id"), col("n_words"), col("kept").as("kept_text"))
    val dens = SimilarityQueries
      .knnDensityDf(s, d, bands = 4, r = 8, k = 5, tau = 0.25, minClose = 3)
      .select(col("vec_id"), col("n_close"), col("kept").as("kept_embed"))
    text.join(dens, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        col("kept_text"),
        coalesce(col("kept_embed"), lit(1L)).as("kept_embed"),
        (col("kept_text") * coalesce(col("kept_embed"), lit(1L))).as("kept"))
  }

  /** Deterministic shard-layout audit for training-data writes: each
    * doc's shard is a multiplicative hash of its id (Knuth's 2654435761
    * mod 2^32, id pre-reduced mod 2^31 so every product stays inside
    * exact Long range) taken mod `nShards`; the output is the
    * per-shard balance row — docs, tokens, and each shard's token
    * share — that a 100 TB pack job checks BEFORE committing the
    * expensive write fan-out. Content-independent hashing keeps the
    * layout stable under re-runs and incremental appends (a new doc
    * never moves an old one), unlike greedy bin packing.
    *
    * Scale shape: the per-doc hash is embarrassingly parallel; the
    * audit is one |shards|-row aggregate with map-side partials.
    * Deliberately NO position-within-shard sequence is assigned — a
    * global (or per-shard) row_number is the scale smell this layout
    * avoids; writers address rows by (shard, file, rowgroup) instead.
    * The token share is the family's one evidence division, over a
    * |shards|-row window.
    */
  private def shardAssignSql(nShards: Int): String =
    s"""WITH per_doc AS (
       |  SELECT ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |shards AS (
       |  SELECT h % $nShards AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM per_doc GROUP BY h % $nShards)
       |SELECT shard, n_docs, n_tokens,
       |       CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
       |FROM shards""".stripMargin

  private[graft] def shardAssignOf(docs: DataFrame, nShards: Int): DataFrame = {
    val perDoc = docs.select(
      ((col("doc_id") % 2147483648L) * 2654435761L % 4294967296L).as("h"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val shards = perDoc.groupBy((col("h") % nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val all = Window.partitionBy() // rows = |shards|: bounded, see scaladoc
    shards.withColumn("token_share",
      col("n_tokens").cast("double") / sum(col("n_tokens")).over(all).cast("double"))
  }

  val shardAssign: QueryDef = QueryDef.sql(
    "x_shard_assign", shardAssignSql(nShards = 8)) { (s, d) =>
    shardAssignOf(Tables.documents(s, d), nShards = 8)
  }

  /** Proportional-interleaving curriculum schedule: every document gets
    * its global training position under weighted round-robin across
    * sources — the deterministic data-order a trainer consumes.
    *
    * The i-th doc of a weight-w source runs at virtual time i/w;
    * sorting all docs by virtual time yields the schedule where a
    * weight-3 source appears 3× as often as a weight-1 source, evenly
    * interleaved (not block-concatenated). Virtual times are kept
    * EXACT: with L = lcm(weights), the key is `i · (L/w)` — a BIGINT,
    * no DECIMAL division, no float ties. Weights attach by alphabetical
    * source rank (rank 1 → w1, rank 2 → w2, rest → 1), so the config
    * is self-contained.
    *
    * Scale shape: the global position is NOT a global-window
    * row_number (that funnels the corpus through one task). Because
    * each source's keys form the arithmetic progression m, 2m, …, the
    * rank of (key, src_rank) is CLOSED-FORM against the per-source
    * stats: pos = 1 + Σ_t min(n_t, (key−1) div m_t)  [docs strictly
    * earlier] + Σ_{rank_t < rank_s} [m_t divides key ∧ key/m_t ≤ n_t]
    * [equal-time ties broken by source rank]. That is one broadcast of
    * |sources| stat rows against a narrow per-doc frame — every row
    * computes its position independently, embarrassingly parallel.
    * The oracle deliberately uses the naive global-window formulation,
    * so the hash match PROVES the closed form equals the sort.
    */
  def curriculumOf(docs: DataFrame, w1: Int, w2: Int): DataFrame = {
    val l = curriculumLcm(w1, w2)
    val rs = docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")).cast("long"))
    val stats = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy().orderBy("source")).cast("long")) // rows = |sources|: bounded
      .withColumn("mult",
        when(col("src_rank") === 1, lit(l.toLong / w1))
          .when(col("src_rank") === 2, lit(l.toLong / w2))
          .otherwise(lit(l.toLong)))
    val keyed = rs.join(broadcast(stats.select(col("source"), col("src_rank"), col("mult"))), "source")
      .withColumn("sched_key", col("rn") * col("mult"))
    val contrib = keyed.crossJoin(broadcast(
        stats.select(col("src_rank").as("rank_t"), col("mult").as("m_t"), col("n").as("n_t"))))
      .withColumn("less_t", least(col("n_t"), expr("(sched_key - 1) div m_t")))
      .withColumn("eq_t",
        when(col("sched_key") % col("m_t") === 0 &&
          expr("sched_key div m_t") <= col("n_t") &&
          col("rank_t") < col("src_rank"), 1L).otherwise(0L))
    contrib.groupBy("doc_id", "source", "rn", "sched_key")
      .agg((lit(1L) + sum(col("less_t") + col("eq_t"))).as("pos"))
      .select(col("doc_id"), col("source"), col("rn"), col("sched_key"), col("pos"))
  }

  /** L = lcm(w1, w2) of a valid weight profile (w1 ≥ w2 ≥ 1). */
  private def curriculumLcm(w1: Int, w2: Int): Int = {
    require(w1 >= w2 && w2 >= 1, s"degenerate curriculum weights ($w1, $w2)")
    (1 to w1 * w2).find(x => x % w1 == 0 && x % w2 == 0).get
  }

  /** The schedule CTE chain over an arbitrary (doc_id, source)
    * relation `rel`, ending in `ck(doc_id, source, rn, sched_key,
    * src_rank)` — composable after other CTE chains (c-prefixed names
    * to avoid collisions), for consumers that schedule a FILTERED
    * corpus (e.g. the leak-free train split).
    */
  private[llm] def curriculumCtes(w1: Int, w2: Int, rel: String): String = {
    val l = curriculumLcm(w1, w2)
    s"""crs AS (
       |  SELECT doc_id, source,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
       |  FROM $rel),
       |cst AS (SELECT source, count(*) AS n FROM $rel GROUP BY source),
       |crk AS (SELECT source, n, row_number() OVER (ORDER BY source) AS src_rank FROM cst),
       |cm AS (SELECT source, src_rank,
       |             CASE WHEN src_rank = 1 THEN ${l / w1}
       |                  WHEN src_rank = 2 THEN ${l / w2}
       |                  ELSE $l END AS mult FROM crk),
       |ck AS (SELECT r.doc_id, r.source, r.rn, r.rn * cm.mult AS sched_key, cm.src_rank
       |      FROM crs r JOIN cm ON r.source = cm.source)""".stripMargin
  }

  /** The final projection over `ck` — the oracle's deliberately naive
    * global-window formulation of the schedule position.
    */
  private[llm] val curriculumSelect: String =
    """SELECT doc_id, source, rn, CAST(sched_key AS BIGINT) AS sched_key,
      |       CAST(row_number() OVER (ORDER BY sched_key, src_rank, rn) AS BIGINT) AS pos
      |FROM ck""".stripMargin

  private def curriculumSql(w1: Int, w2: Int): String =
    s"""WITH ${curriculumCtes(w1, w2, "documents")}
       |$curriculumSelect""".stripMargin

  val curriculum: QueryDef = QueryDef.sql(
    "x_curriculum", curriculumSql(w1 = 3, w2 = 2)) { (s, d) =>
    curriculumOf(Tables.documents(s, d), w1 = 3, w2 = 2)
  }

  /** The 4:2:1 profile (L = 4, multipliers 1/2/4) — pins that the
    * weight profile is a real parameter of both the key construction
    * and the closed-form rank.
    */
  val curriculumW2: QueryDef = QueryDef.sql(
    "x_curriculum_w4", curriculumSql(w1 = 4, w2 = 2)) { (s, d) =>
    curriculumOf(Tables.documents(s, d), w1 = 4, w2 = 2)
  }

  /** Shard fill-rate / fragmentation audit over the token packer:
    * per shard, how many documents start in it, how many tokens they
    * carry, the exact quantized fill vs the budget (`fill_q` =
    * 10⁶·shard_tokens div budget — >10⁶ means the shard's last doc
    * overflows into the next, <10⁶ means padding waste), and how many
    * docs SPILL across the shard boundary (end offset past the
    * budget line). The report a packing deployment reads to pick the
    * budget: high spill counts mean wasted re-reads at training time,
    * low fill means wasted padding — both are token-bill lines at
    * 100 TB.
    *
    * Scale shape: reuses tokenPackDf's two-phase prefix sum (range
    * repartition + per-partition running sums + broadcast offsets —
    * no global single-task window), then one groupBy(shard_id);
    * output rows = Σ tokens / budget, a groupBy like any other.
    */
  private def packAuditSql(budget: Long): String =
    s"""WITH tp AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cp AS (
       |  SELECT doc_id, n_tokens,
       |         ${packCumSumSql(Seq("doc_id"), "n_tokens")}
       |  FROM tp),
       |pp AS (
       |  SELECT doc_id, n_tokens, cum_tokens,
       |         ${shardIdSql("n_tokens", budget)}
       |  FROM cp)
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       |       CAST(sum(n_tokens) * 1000000 // $budget AS BIGINT) AS fill_q,
       |       CAST(sum(CASE WHEN cum_tokens > (shard_id + 1) * $budget THEN 1 ELSE 0 END) AS BIGINT) AS n_spill
       |FROM pp GROUP BY shard_id""".stripMargin

  private def packAuditDf(s: SparkSession, d: String, budget: Long): DataFrame =
    tokenPackDf(s, d, budget).groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("shard_tokens"),
      expr(s"sum(n_tokens) * 1000000 div $budget").as("fill_q"),
      sum(when(col("cum_tokens") > (col("shard_id") + 1) * budget, 1L).otherwise(0L))
        .as("n_spill"))

  val packAudit: QueryDef = QueryDef.sql(
    "x_pack_audit", packAuditSql(budget = 2000L)) { (s, d) =>
    packAuditDf(s, d, budget = 2000L)
  }

  /** Double budget — half the shards at roughly double the fill; pins
    * the budget through assignment, fill, and the spill test.
    */
  val packAuditB4000: QueryDef = QueryDef.sql(
    "x_pack_audit_b4000", packAuditSql(budget = 4000L)) { (s, d) =>
    packAuditDf(s, d, budget = 4000L)
  }

  /** Per-source yield funnel: for each pipeline stage — raw →
    * quality (Gopher rule filter) → dedup (exact keeper among the
    * quality survivors, the x_pipeline_gopher composition order) —
    * the doc and token counts per source. The accounting table a
    * production pipeline publishes with every corpus build: which
    * source loses how much at which stage, token-weighted so the
    * numbers are budget lines, not just doc tallies. A source whose
    * tokens collapse at the dedup stage is recycling content; one
    * that collapses at quality is noise — the two cases demand
    * different acquisition responses.
    *
    * Scale shape: three per-row-scored scans aggregated per source
    * (the filter's per-doc stats, one md5 window among survivors),
    * output |stages|×|sources| rows. No new join class.
    */
  private def sourceFunnelSql(rule: GopherRule): String =
    s"""WITH gf AS (
       |${gopherFilterSql(rule)}),
       |tokf AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |qd AS (
       |  SELECT t.doc_id, t.source, t.n, t.norm
       |  FROM tokf t JOIN gf ON gf.doc_id = t.doc_id AND gf.kept = 1),
       |keepf AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
       |  FROM qd),
       |dd AS (
       |  SELECT q.doc_id, q.source, q.n
       |  FROM qd q JOIN keepf k ON k.doc_id = q.doc_id AND k.rn = 1)
       |SELECT stage, source, n_docs, n_tokens FROM (
       |  SELECT 'raw' AS stage, source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n) AS BIGINT) AS n_tokens FROM tokf GROUP BY source
       |  UNION ALL
       |  SELECT 'quality', source, CAST(count(*) AS BIGINT),
       |         CAST(sum(n) AS BIGINT) FROM qd GROUP BY source
       |  UNION ALL
       |  SELECT 'dedup', source, CAST(count(*) AS BIGINT),
       |         CAST(sum(n) AS BIGINT) FROM dd GROUP BY source)""".stripMargin

  private[graft] def sourceFunnelDf(s: SparkSession, d: String, rule: GopherRule): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), col("source"), col("text"),
      size(tokens(col("text"))).cast("long").as("n"))
    val kept = gopherFilterDf(docs, rule).where(col("kept") === 1).select("doc_id")
    val qd = tok.join(kept, "doc_id")
    val dd = exactKeepers(qd)
    def stage(df: DataFrame, name: String): DataFrame =
      df.groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        .select(lit(name).as("stage"), col("source"), col("n_docs"), col("n_tokens"))
    stage(tok, "raw").unionAll(stage(qd, "quality")).unionAll(stage(dd, "dedup"))
  }

  val sourceFunnel: QueryDef = QueryDef.sql(
    "x_source_funnel", sourceFunnelSql(GopherRule.Default)) { (s, d) =>
    sourceFunnelDf(s, d, GopherRule.Default)
  }

  /** Per-source corpus data card — the one-row-per-source datasheet a
    * corpus release ships: raw volume (docs, tokens), language
    * composition (dominant lang + its exact share), quality pass rate
    * under the Gopher rule filter, near-duplication exposure (share of
    * docs in a near-dup cluster of ≥ 2), and the duplication-
    * discounted EFFECTIVE token mass (Σ n_toks·10⁶ div cluster_size —
    * the x_dup_weights aggregate). Five adjudicated operators composed
    * into one decision table: which sources to buy more of (high
    * quality, high effective mass), which to re-crawl less (high dup
    * share), which need language routing (low dominance).
    *
    * Scale shape: every input is per-row or already-adjudicated (the
    * CC labeling is the shared materialized artifact; the Gopher
    * filter is one doc-keyed shuffle); the composition itself is 1:1
    * doc_id equi-joins followed by a groupBy over |sources| rows and
    * a |sources|-bounded dominance window. All shares are exact
    * quantized integer divisions.
    */
  private def dataCardSql(rule: GopherRule): String =
    s"""WITH RECURSIVE ${graft.llm.DedupQueries.clusterCtes},
       |gf AS (
       |${gopherFilterSql(rule)}),
       |sz AS (
       |  SELECT doc, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |  FROM lab),
       |dt AS (
       |  SELECT doc_id, source, lang,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks
       |  FROM documents),
       |base AS (
       |  SELECT dt.source, dt.n_toks, gf.kept, sz.cluster_size
       |  FROM dt JOIN gf ON dt.doc_id = gf.doc_id JOIN sz ON dt.doc_id = sz.doc),
       |per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |         CAST(sum(kept) AS BIGINT) AS n_kept,
       |         CAST(sum(CASE WHEN cluster_size >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |         CAST(sum(n_toks * 1000000 // cluster_size) AS BIGINT) AS eff_tokens_q
       |  FROM base GROUP BY source),
       |dom AS (
       |  SELECT source, lang AS dom_lang, CAST(count(*) AS BIGINT) AS n_dom
       |  FROM dt GROUP BY source, lang
       |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) = 1)
       |SELECT p.source, p.n_docs, p.n_tokens, dom.dom_lang,
       |       CAST(dom.n_dom * 1000000 // p.n_docs AS BIGINT) AS dom_lang_share_q,
       |       CAST(p.n_kept * 1000000 // p.n_docs AS BIGINT) AS gopher_pass_q,
       |       CAST(p.n_dup * 1000000 // p.n_docs AS BIGINT) AS dup_doc_q,
       |       p.eff_tokens_q
       |FROM per p JOIN dom ON p.source = dom.source""".stripMargin

  private def dataCardDf(s: SparkSession, d: String, rule: GopherRule): DataFrame = {
    val docs = Tables.documents(s, d)
    val dt = docs.select(col("doc_id"), col("source"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val kept = gopherFilterDf(docs, rule).select(col("doc_id"), col("kept"))
    val sz = graft.llm.DedupQueries.ccLabels(s, d)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
      .select("doc_id", "cluster_size")
    val per = dt.join(kept, "doc_id").join(sz, "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("kept").as("n_kept"),
        sum(when(col("cluster_size") >= 2, 1L).otherwise(0L)).as("n_dup"),
        sum(expr("n_toks * 1000000 div cluster_size")).as("eff_tokens_q"))
    // rows = |sources| × |langs|: bounded dominance frame
    val dom = dt.groupBy("source", "lang").agg(count(lit(1)).as("n_dom"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("n_dom").desc, col("lang"))))
      .where(col("rn") === 1)
      .select(col("source"), col("lang").as("dom_lang"), col("n_dom"))
    per.join(dom, "source").select(
      col("source"), col("n_docs"), col("n_tokens"), col("dom_lang"),
      expr("n_dom * 1000000 div n_docs").as("dom_lang_share_q"),
      expr("n_kept * 1000000 div n_docs").as("gopher_pass_q"),
      expr("n_dup * 1000000 div n_docs").as("dup_doc_q"),
      col("eff_tokens_q"))
  }

  val dataCard: QueryDef = QueryDef.sql(
    "x_data_card", dataCardSql(GopherRule.Default)) { (s, d) =>
    dataCardDf(s, d, GopherRule.Default)
  }

  /** The strict Gopher config rides through the card — pins the
    * quality gate as a real parameter of the datasheet (pass rates
    * can only drop; all other columns are invariant, which the spec
    * pins).
    */
  val dataCardStrict: QueryDef = QueryDef.sql(
    "x_data_card_strict", dataCardSql(GopherRule.Strict)) { (s, d) =>
    dataCardDf(s, d, GopherRule.Strict)
  }

  /** Budget-constrained source-mix solve — the DECISION the data card
    * exists to inform: rank sources by Gopher pass rate (quality
    * first, source name as the total-order tie-break), then greedily
    * allocate a token budget (here: half the corpus's total
    * duplication-discounted effective mass, so the target is
    * scale-invariant) down the ranking. Each source contributes
    * `alloc_q = clamp(budget − taken_by_better_sources, 0,
    * eff_tokens_q)` — full takes at the top, one partial take at the
    * boundary, zeros below — plus the per-source take fraction a
    * sampler would apply. This is the greedy knapsack a mix owner
    * actually ships when quality is the ranking signal and token mass
    * is the constraint; x_mix_weights is the unconstrained
    * (rebalance-to-target) counterpart.
    *
    * Scale shape: everything after the card is windows and one 1-row
    * budget broadcast over the |sources|-row frame — catalog-bounded,
    * like the card itself. All allocations are exact integer
    * arithmetic on the quantized token masses.
    */
  private[graft] def mixAllocFrom(card: DataFrame): DataFrame = {
    // pinned (lazy localCheckpoint of the |sources|-row card): the
    // ranking branch and the budget scalar both read the card, and
    // without the pin each branch re-derives the ENTIRE data-card
    // chain (tokenize + gopher gate + cluster-size attach + two
    // aggregations) for a |sources|-row overlay
    val pinned = card.localCheckpoint(false)
    val ranked = pinned
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gopher_pass_q").desc, col("source"))).cast("long"))
      // rows = |sources|: bounded unpartitioned window, see scaladoc
      .withColumn("taken_q", coalesce(
        sum("eff_tokens_q").over(Window.orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val budget = pinned.agg(expr("sum(eff_tokens_q) div 2").as("budget_q"))
    ranked.crossJoin(broadcast(budget))
      .withColumn("alloc_q",
        greatest(lit(0L), least(col("eff_tokens_q"), col("budget_q") - col("taken_q"))))
      .select(col("source"), col("rk"), col("gopher_pass_q"), col("eff_tokens_q"),
        col("alloc_q"),
        coalesce(expr("alloc_q * 1000000 div nullif(eff_tokens_q, 0)"), lit(0L))
          .as("take_frac_q"))
  }

  private def mixSolveSql(rule: GopherRule): String =
    s"""WITH card AS (
       |${dataCardSql(rule)}),
       |r AS (
       |  SELECT source, gopher_pass_q, eff_tokens_q,
       |         CAST(row_number() OVER (ORDER BY gopher_pass_q DESC, source) AS BIGINT) AS rk
       |  FROM card),
       |c AS (
       |  SELECT *, CAST(coalesce(sum(eff_tokens_q) OVER (
       |    ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS taken_q
       |  FROM r),
       |b AS (SELECT CAST(sum(eff_tokens_q) // 2 AS BIGINT) AS budget_q FROM card)
       |SELECT c.source, c.rk, c.gopher_pass_q, c.eff_tokens_q,
       |       CAST(greatest(0, least(c.eff_tokens_q, b.budget_q - c.taken_q)) AS BIGINT) AS alloc_q,
       |       CAST(coalesce(greatest(0, least(c.eff_tokens_q, b.budget_q - c.taken_q)) * 1000000
       |            // nullif(c.eff_tokens_q, 0), 0) AS BIGINT) AS take_frac_q
       |FROM c, b""".stripMargin

  val mixSolve: QueryDef = QueryDef.sql(
    "x_mix_solve", mixSolveSql(GopherRule.Default)) { (s, d) =>
    mixAllocFrom(dataCardDf(s, d, GopherRule.Default))
  }

  val all: Seq[QueryDef] =
    Seq(sampleStratified, tokenPack, corpusCurate, sourceCap, docChunks, docChunksC64,
      redact, decontaminate, decontaminateFrac, decontaminateBloom, deconSpans, deconCut,
      deconReport, deconReportK6, mixWeights, pipelineE2e,
      gopherFilter, gopherFilterStrict, pipelineGopher,
      gopherSymbols, tokenBudget,
      shardAssign, pipelineHybrid, lengthTrim, lengthTrimP10,
      curriculum, curriculumW2, packAudit, packAuditB4000,
      sourceFunnel, dataCard, dataCardStrict, mixSolve)
}
