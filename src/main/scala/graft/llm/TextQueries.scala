package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StringShingles
import graft.{QueryDef, Tables}
import graft.llm.TextOps._

/** Text-analysis operators for LLM data pipelines: language ID
  * (marker-token heuristic), quality scoring, token counting, document
  * fingerprinting. All narrow, per-row plans built from exact integer
  * counts plus single IEEE divisions — zero shuffle, fully
  * codegen'd, trivially scalable.
  */
object TextQueries {

  /** Token / character statistics + a deterministic quality score
    * (uniq-token ratio damped by stopword ratio — the usual
    * length/punct/stopword family of heuristics).
    */
  val textStats: QueryDef = QueryDef.sql(
    "x_text_stats",
    s"""WITH t AS (
      |  SELECT doc_id, length(text) AS n_chars,
      |         ${tokensSql()} AS toks
      |  FROM documents)
      |SELECT doc_id, n_chars,
      |       CAST(len(toks) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |       CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / nullif(len(toks), 0) AS avg_token_len,
      |       CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / nullif(len(toks), 0) AS stop_ratio,
      |       (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) *
      |         (1 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / nullif(len(toks), 0)) AS quality
      |FROM t""") { (s, d) =>
    val stop = Seq("the", "a")
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_chars"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        size(filter(col("toks"), x => x.isin(stop: _*))).cast("long").as("n_stop"),
        (aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
          nullif(size(col("toks")), lit(0))).as("avg_token_len"),
        (size(filter(col("toks"), x => x.isin(stop: _*))).cast("double") /
          nullif(size(col("toks")), lit(0))).as("stop_ratio"),
        ((size(array_distinct(col("toks"))).cast("double") / nullif(size(col("toks")), lit(0))) *
          (lit(1) - size(filter(col("toks"), x => x.isin(stop: _*))).cast("double") /
            nullif(size(col("toks")), lit(0)))).as("quality"))
  }

  /** Per-doc language predictions shared by x_lang_id (which exposes
    * them) and x_lang_audit (which aggregates them per source):
    * marker-token counts per language, argmax with the fixed priority
    * tie-break (en > de > es > fr > zh).
    */
  private[graft] def langPredictionsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def cnt(toks: org.apache.spark.sql.Column, words: Seq[String]) =
      size(filter(toks, x => x.isin(words: _*))).cast("long")
    val t = docs.select(
      col("doc_id"), col("source"), col("lang").as("labeled_lang"),
      tokens(col("text")).as("toks"))
    val c = t.select(
      col("doc_id"), col("source"), col("labeled_lang"),
      cnt(col("toks"), Seq("the", "a", "of")).as("c_en"),
      cnt(col("toks"), Seq("der", "und", "die")).as("c_de"),
      cnt(col("toks"), Seq("el", "la", "y")).as("c_es"),
      cnt(col("toks"), Seq("le", "et", "les")).as("c_fr"),
      cnt(col("toks"), Seq("d", "zh")).as("c_zh"))
    c.withColumn("predicted_lang",
      when(col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr"), col("c_zh")), "en")
        .when(col("c_de") >= greatest(col("c_es"), col("c_fr"), col("c_zh")), "de")
        .when(col("c_es") >= greatest(col("c_fr"), col("c_zh")), "es")
        .when(col("c_fr") >= col("c_zh"), "fr")
        .otherwise("zh"))
  }

  /** Language ID: per-language marker-token counts, argmax with a
    * fixed priority tie-break (en > de > es > fr > zh). On real text
    * the marker lists would be the top-k stopwords per language; the
    * mechanism (count → argmax) is the operator under test.
    */
  val langId: QueryDef = QueryDef.sql(
    "x_lang_id",
    s"""WITH t AS (
      |  SELECT doc_id, lang AS labeled_lang,
      |         ${tokensSql()} AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, labeled_lang,
      |         CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS c_en,
      |         CAST(len(list_filter(toks, x -> x IN ('der', 'und', 'die'))) AS BIGINT) AS c_de,
      |         CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'y'))) AS BIGINT) AS c_es,
      |         CAST(len(list_filter(toks, x -> x IN ('le', 'et', 'les'))) AS BIGINT) AS c_fr,
      |         CAST(len(list_filter(toks, x -> x IN ('d', 'zh'))) AS BIGINT) AS c_zh
      |  FROM t)
      |SELECT doc_id, labeled_lang, c_en, c_de, c_es, c_fr, c_zh,
      |       CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
      |            WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
      |            WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
      |            WHEN c_fr >= c_zh THEN 'fr'
      |            ELSE 'zh' END AS predicted_lang
      |FROM c""") { (s, d) =>
    langPredictionsOf(Tables.documents(s, d)).select("doc_id", "labeled_lang",
      "c_en", "c_de", "c_es", "c_fr", "c_zh", "predicted_lang")
  }

  private[graft] def langAuditOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = langPredictionsOf(docs).select("source", "labeled_lang", "predicted_lang")
    val agg = p.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("predicted_lang") === col("labeled_lang"), 1L).otherwise(0L)).as("n_agree"))
    val top = p.where(col("predicted_lang") =!= col("labeled_lang"))
      .groupBy("source", "labeled_lang", "predicted_lang").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(col("cnt").desc, col("labeled_lang"), col("predicted_lang"))))
      .where(col("rn") === 1)
      .select(col("source"),
        concat(col("labeled_lang"), lit("->"), col("predicted_lang")).as("top_confusion"))
    agg.join(top, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_docs")).as("agree_frac"),
        col("top_confusion"))
  }

  /** Per-source language-label AUDIT — the lang-id operator consumed
    * downstream, the way a corpus pipeline actually uses it: for each
    * source, how often does the n-gram prediction agree with the
    * upstream `lang` label, and which (labeled → predicted)
    * disagreement dominates? A source whose agree rate collapses is a
    * mislabeled crawl (or a lang-id regression) — the operational
    * alarm this table feeds. Exact integer counts + one division;
    * the dominant-confusion pick breaks ties deterministically
    * (count desc, then labeled, then predicted); sources with no
    * disagreement carry a NULL top_confusion on both engines.
    *
    * Scale shape: per-row scan → two small aggregations keyed by
    * source (map-side partials; |sources| × |langs|² rows at most) —
    * no corpus-sized shuffle anywhere.
    */
  val langAudit: QueryDef = QueryDef.sql(
    "x_lang_audit",
    s"""WITH t AS (
      |  SELECT doc_id, source, lang AS labeled_lang,
      |         ${tokensSql()} AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, labeled_lang,
      |         CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS c_en,
      |         CAST(len(list_filter(toks, x -> x IN ('der', 'und', 'die'))) AS BIGINT) AS c_de,
      |         CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'y'))) AS BIGINT) AS c_es,
      |         CAST(len(list_filter(toks, x -> x IN ('le', 'et', 'les'))) AS BIGINT) AS c_fr,
      |         CAST(len(list_filter(toks, x -> x IN ('d', 'zh'))) AS BIGINT) AS c_zh
      |  FROM t),
      |p AS (
      |  SELECT doc_id, source, labeled_lang,
      |         CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
      |              WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
      |              WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
      |              WHEN c_fr >= c_zh THEN 'fr'
      |              ELSE 'zh' END AS predicted_lang
      |  FROM c),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(CASE WHEN predicted_lang = labeled_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM p GROUP BY source),
      |conf AS (
      |  SELECT source, labeled_lang, predicted_lang, count(*) AS cnt
      |  FROM p WHERE predicted_lang <> labeled_lang GROUP BY 1, 2, 3),
      |topconf AS (
      |  SELECT source, labeled_lang || '->' || predicted_lang AS top_confusion FROM (
      |    SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, labeled_lang, predicted_lang) AS rn
      |    FROM conf) WHERE rn = 1)
      |SELECT a.source, a.n_docs, a.n_agree,
      |       CAST(a.n_agree AS DOUBLE) / a.n_docs AS agree_frac, t.top_confusion
      |FROM agg a LEFT JOIN topconf t ON a.source = t.source""") { (s, d) =>
    langAuditOf(Tables.documents(s, d))
  }

  /** Document fingerprinting: md5 of normalized text plus a Karp-Rabin
    * polynomial rolling hash over the character codes (exact modular
    * ints — the primitive under MinHash/winnowing shingle schemes).
    */
  val fingerprint: QueryDef = QueryDef.sql(
    "x_fingerprint",
    s"""WITH n AS (
      |  SELECT doc_id, $normTextSql AS norm
      |  FROM documents)
      |SELECT doc_id,
      |       md5(norm) AS fp_md5,
      |       substr(md5(norm), 1, 8) AS fp_prefix,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 1000000007) AS fp_poly,
      |       length(norm) // 100 AS len_band
      |FROM n""") { (s, d) =>
    val n = Tables.documents(s, d).select(
      col("doc_id"),
      normText(col("text")).as("norm"))
    n.select(
      col("doc_id"),
      md5(col("norm")).as("fp_md5"),
      substring(md5(col("norm")), 1, 8).as("fp_prefix"),
      aggregate(
        filter(split(col("norm"), ""), c => length(c) > 0),
        lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % 1000000007L).as("fp_poly"),
      (length(col("norm")).cast("long") / 100).cast("long").as("len_band"))
  }

  /** Repetition/format quality signals — the Gopher-style filter
    * family beyond x_text_stats's token ratios: duplicate-3-gram
    * ratio (boilerplate/repetition detector), bullet-line fraction
    * and longest line (format signals for list/table-heavy pages).
    * Purely per-row (3-grams by [[StringShingles]], lines by splitting
    * on newline): zero shuffle, fan-out bounded by document length.
    */
  val qualitySignals: QueryDef = QueryDef.sql(
    "x_quality_signals",
    s"""WITH t AS (
      |  SELECT doc_id,
      |         ${tokensSql()} AS toks,
      |         string_split(text, chr(10)) AS lines
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lines,
      |         ${shinglesSql("toks", 3)} AS grams
      |  FROM t)
      |SELECT doc_id,
      |       CAST(len(grams) AS BIGINT) AS n_3grams,
      |       1 - CAST(len(list_distinct(grams)) AS DOUBLE) / nullif(len(grams), 0) AS dup_3gram_ratio,
      |       CAST(len(lines) AS BIGINT) AS n_lines,
      |       CAST(len(list_filter(lines,
      |         l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS DOUBLE)
      |         / len(lines) AS frac_bullet_lines,
      |       CAST(list_max(list_transform(lines, l -> length(l))) AS BIGINT) AS max_line_len
      |FROM g""") { (s, d) =>
    val t = Tables.documents(s, d).select(
      col("doc_id"), tokens(col("text")).as("toks"),
      split(col("text"), "\n").as("lines"))
    val g = t.select(col("doc_id"), col("lines"), StringShingles(col("toks"), 3).as("grams"))
    g.select(
      col("doc_id"),
      size(col("grams")).cast("long").as("n_3grams"),
      (lit(1) - size(array_distinct(col("grams"))).cast("double") /
        nullif(size(col("grams")), lit(0))).as("dup_3gram_ratio"),
      size(col("lines")).cast("long").as("n_lines"),
      (size(filter(col("lines"),
        l => trim(l).startsWith("-") || trim(l).startsWith("*"))).cast("double") /
        size(col("lines"))).as("frac_bullet_lines"),
      array_max(transform(col("lines"), l => length(l))).cast("long").as("max_line_len"))
  }

  /** Winnowing oracle CTE chain at a given (window, gram) — shared by
    * the fingerprint queries and the pairs query, so the
    * parameterization cannot drift between engine and oracle. Ends
    * with `wfp` = the distinct (doc_id, fingerprint) set.
    */
  private def winnowCtes(win: Int, gram: Int): String =
    s"""t AS (
       |  SELECT doc_id, ${tokensSql()} AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, ${shinglesSql("toks", gram)} AS grams
       |  FROM t),
       |h AS (
       |  SELECT doc_id, list_transform(grams,
       |    s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |         (a, b) -> (a * 31 + b) % 1000000007)) AS hs
       |  FROM g),
       |w AS (
       |  SELECT doc_id,
       |         CASE WHEN len(hs) >= $win THEN list_transform(generate_series(1, len(hs) - ${win - 1}),
       |                j -> list_min(list_slice(hs, j, j + ${win - 1})))
       |              WHEN len(hs) > 0 THEN [list_min(hs)]
       |              ELSE [] END AS sel
       |  FROM h),
       |wfp AS (
       |  SELECT DISTINCT doc_id, f AS fingerprint
       |  FROM (SELECT doc_id, unnest(sel) AS f FROM w))""".stripMargin

  private def winnowSql(win: Int, gram: Int): String =
    s"""WITH ${winnowCtes(win, gram)}
       |SELECT doc_id, fingerprint FROM wfp""".stripMargin

  /** Shared token-hash frame for the winnowing / repeated-span / cut
    * family: `(doc_id, pos, tok, th, tp)` per
    * [[TextOps.tokenHashFrame]], materialized once per (JVM, sf-dir).
    * The winnow (w4g3 ×2, w5g4), repeated-span and exact-substring cut
    * (g6/g8) queries take their gram hashes from it through
    * [[TextOps.gramHashes]] — bit-identical to char-folding each gram
    * string, which is what their DuckDB oracles still do, so those
    * oracle twins pin the composition. The cuts (`x_exact_substr_cut*`,
    * `x_decon_cut`) also rebuild their cleaned streams from its `tok`
    * column. No consumer builds a gram STRING from it: those come from
    * [[StringShingles]]. Bench builds the frame as the `tok_build`
    * line.
    */
  private[graft] def tokFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    SharedIndex.materialized(s, d, "tokhash")(
      TextOps.tokenHashFrame(Tables.documents(s, d)))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * scheme): hash every token `gram`-gram, slide a `win`-hash
    * window, keep each window's minimum — the guarantee is that any shared
    * substring of ≥ window+gram tokens contributes at least one
    * COMMON selected fingerprint, which makes this the robust
    * substring-level dedup/plagiarism primitive (full-document
    * fingerprints miss partial overlap; winnowing bounds the
    * fingerprint density at ~2/(window+1) per token instead of
    * keeping every gram). Ties select the same VALUE under any
    * tie-break rule, so emitting the distinct selected-value set is
    * engine-independent.
    *
    * The Spark side is the gram-hash stream of [[TextOps.gramHashes]]
    * with window minima over a `win`-row frame — array HOFs nested
    * three deep (transform of aggregate of split) run interpreted and
    * measured minutes at sf0.1, while this shape stays in
    * codegen/WindowExec. One shuffle by doc_id; window state is `win`
    * rows.
    */
  private def winnowFrom(frame: org.apache.spark.sql.DataFrame,
      win: Int, gram: Int): org.apache.spark.sql.DataFrame = {
    require(win >= 2 && gram >= 2, s"degenerate winnowing config ($win, $gram)")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val hashes = gramHashes(frame, gram)
    // full `win`-hash windows: min over [current, current+win-1], valid
    // only where the window is complete
    val wins = hashes
      .withColumn("wmin", min("h").over(byDoc.rowsBetween(0, win - 1)))
      .withColumn("complete", lead("h", win - 1).over(byDoc).isNotNull)
    val full = wins.where(col("complete"))
      .select(col("doc_id"), col("wmin").as("fingerprint"))
    // docs with 1..win-1 grams have no complete window: winnowing then
    // selects the global minimum
    val short = hashes.groupBy("doc_id")
      .agg(count(lit(1)).as("g"), min("h").as("fingerprint"))
      .where(col("g") < win)
      .select("doc_id", "fingerprint")
    full.union(short).distinct()
  }

  /** Registry entry point: winnowing over the shared materialized
    * token-hash frame for `d`.
    */
  private def winnowDf(s: org.apache.spark.sql.SparkSession, d: String,
      win: Int, gram: Int): org.apache.spark.sql.DataFrame =
    winnowFrom(tokFrame(s, d), win, gram)

  val winnowFingerprints: QueryDef = QueryDef.sql(
    "x_winnow_fingerprints", winnowSql(win = 4, gram = 3)) { (s, d) =>
    winnowDf(s, d, win = 4, gram = 3)
  }

  /** Winnowing at a second, coarser config (window 5, gram 4) — the
    * guarantee threshold moves to shared substrings of ≥ w+g = 9
    * tokens and fingerprint density drops to ~2/(w+1) = 1/3 per token,
    * the trade a larger corpus makes. Own oracle, pinning that the
    * (window, gram) parameterization is real on both sides.
    */
  val winnowFingerprintsW5: QueryDef = QueryDef.sql(
    "x_winnow_fingerprints_w5", winnowSql(win = 5, gram = 4)) { (s, d) =>
    winnowDf(s, d, win = 5, gram = 4)
  }

  /** Winnowing NEAR-DUP PAIRS — the query MOSS actually answers with
    * its fingerprints: document pairs sharing ≥ `minShared` selected
    * fingerprints, i.e. substring-level near-duplicates (each shared
    * fingerprint witnesses a shared ≥ w+g−1-token run — partial
    * overlap that whole-document Jaccard/MinHash can dilute away).
    * Stop-fingerprints (document frequency > 10 — boilerplate
    * runs appearing corpus-wide) are pruned before pairing, exactly
    * the rare-posting discipline of x_dedup_ngram: the only join key
    * is a fingerprint with bounded df, so pair fan-out is
    * df²-bounded per fingerprint, never doc×doc.
    *
    * The fingerprint set is computed once and pinned with a lazy
    * localCheckpoint — the pairs self-join reads the snapshot twice
    * instead of re-running the window pipeline per side.
    */
  val winnowPairs: QueryDef = QueryDef.sql(
    "x_winnow_pairs",
    s"""WITH ${winnowCtes(win = 4, gram = 3)},
       |cnt AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS df FROM wfp GROUP BY 1),
       |rare AS (SELECT fingerprint FROM cnt WHERE df <= 10),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wfp a JOIN rare USING (fingerprint)
       |  JOIN wfp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 3""".stripMargin) { (s, d) =>
    val wfp = winnowDf(s, d, win = 4, gram = 3).localCheckpoint(eager = false)
    val rare = wfp.groupBy("fingerprint").agg(count(lit(1)).as("df"))
      .where(col("df") <= 10).select("fingerprint")
    val a = wfp.join(rare, "fingerprint")
      .select(col("fingerprint"), col("doc_id").as("doc_a"))
    val b = wfp.select(col("fingerprint").as("fp_b"), col("doc_id").as("doc_b"))
    a.join(b, col("fingerprint") === col("fp_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
  }

  /** Corpus n-gram statistics: per-language top-k n-grams by exact
    * count, deterministic tie-break (count desc, gram asc) — the
    * head-of-distribution primitive behind vocabulary building,
    * boilerplate mining, and stop-fingerprint list construction.
    *
    * Scale shape: per-doc gram fan-out is bounded by token count;
    * counts combine map-side (partial HashAggregate), so the one wide
    * shuffle is by (lang, gram) — a key that INCLUDES the gram, so no
    * hot key is possible no matter how skewed the language mix; the
    * per-language top-k then compiles to `WindowGroupLimit` (asserted
    * by spec), truncating every partition to k rows per language
    * BEFORE the final per-language exchange, whose input is thus
    * ≤ k·|partitions| rows regardless of vocabulary size. Output is
    * |languages|·k rows.
    */
  def ngramTopkOf(docs: org.apache.spark.sql.DataFrame, n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 2 && k >= 1, s"degenerate ngram-topk config ($n, $k)")
    val g = docs
      .select(col("lang"), tokens(col("text")).as("toks"))
      .select(col("lang"), explode(StringShingles(col("toks"), n)).as("gram"))
    val c = g.groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
    // filter on the raw row_number BEFORE any cast so the rank-limit
    // pattern stays recognizable to the WindowGroupLimit rewrite
    c.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))))
      .where(col("rn") <= k)
      .select(col("lang"), col("gram"), col("cnt"), col("rn").cast("long").as("rnk"))
  }

  private def ngramTopkSql(n: Int, k: Int): String =
    s"""WITH t AS (
       |  SELECT lang, ${tokensSql()} AS toks FROM documents),
       |g AS (
       |  SELECT lang, unnest(${shinglesSql("toks", n)}) AS gram
       |  FROM t),
       |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
       |r AS (SELECT lang, gram, cnt,
       |        CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS BIGINT) AS rnk
       |      FROM c)
       |SELECT lang, gram, cnt, rnk FROM r WHERE rnk <= $k""".stripMargin

  val ngramTopk: QueryDef = QueryDef.sql(
    "x_ngram_topk", ngramTopkSql(n = 2, k = 10)) { (s, d) =>
    ngramTopkOf(Tables.documents(s, d), n = 2, k = 10)
  }

  /** Trigram head at a tighter k — pins that the (n, k)
    * parameterization is real on both engine and oracle, like the
    * winnowing / SimHash / MinHash twins.
    */
  val ngramTopkT3: QueryDef = QueryDef.sql(
    "x_ngram_topk_t3", ngramTopkSql(n = 3, k = 5)) { (s, d) =>
    ngramTopkOf(Tables.documents(s, d), n = 3, k = 5)
  }

  /** The shared front half of exact-substring dedup: (doc_id, pos)
    * start positions of every `gram`-token window whose total corpus
    * occurrence count is ≥ `minOcc`. Postings are pinned once via lazy
    * localCheckpoint and read by both the count and the join back;
    * the count side contributes ONE row per hash, so occurrence rows
    * fan out 1:1 regardless of how common a gram is.
    */
  private def repeatedStartsFrom(frame: org.apache.spark.sql.DataFrame, gram: Int, minOcc: Int): org.apache.spark.sql.DataFrame = {
    require(gram >= 2 && minOcc >= 2, s"degenerate repeated-span config ($gram, $minOcc)")
    val occ = gramHashes(frame, gram)
      // 1-based token positions, matching the oracle's generate_series
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("h"))
      .localCheckpoint(eager = false)
    val rep = occ.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= minOcc).select("h")
    occ.join(rep, "h").select("doc_id", "pos")
  }

  /** Repeated-span mining — the exact-substring dedup primitive
    * (find every maximal token run that occurs more than once
    * anywhere in the corpus, including twice within one document;
    * production pipelines then cut or down-weight those spans).
    * Formulated as gram postings + gaps-and-islands: hash every
    * `gram`-token window (same Karp-Rabin char fold as winnowing), a
    * gram is "repeated" when its total occurrence count ≥ `minOcc`,
    * and a document's consecutive repeated positions merge into one
    * maximal span [start, end] covering n_grams + gram − 1 tokens.
    *
    * Scale shape: the occurrence count is a partial-aggregating
    * groupBy on the gram hash; the join back is 1 row per hash on the
    * count side, so occurrence rows fan out 1:1 — no pair blowup no
    * matter how common a gram is (contrast doc×doc). The islands pass
    * is one shuffle by doc_id + a rank window, the sessionize shape.
    */
  def repeatedSpansOf(docs: org.apache.spark.sql.DataFrame, gram: Int, minOcc: Int): org.apache.spark.sql.DataFrame =
    repeatedSpansFrom(TextOps.tokenHashFrame(docs), gram, minOcc)

  private def repeatedSpansFrom(frame: org.apache.spark.sql.DataFrame, gram: Int, minOcc: Int): org.apache.spark.sql.DataFrame = {
    val hot = repeatedStartsFrom(frame, gram, minOcc)
    val isl = hot.withColumn("island",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    isl.groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + (gram - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** Oracle CTE chain shared by the span and cut queries, ending at
    * `r` = the repeated (doc_id, pos) start set — the SQL twin of
    * [[repeatedStartsFrom]], parameterized identically so engine and
    * oracle cannot drift.
    */
  private def repeatedCtes(gram: Int, minOcc: Int): String =
    s"""t AS (
       |  SELECT doc_id, ${tokensSql()} AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - ${gram - 1}),
       |    i -> struct_pack(pos := CAST(i AS BIGINT),
       |           h := list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                  list_transform(string_split(
       |                    array_to_string(list_slice(toks, i, i + ${gram - 1}), ' '), ''),
       |                    c -> CAST(ascii(c) AS BIGINT))),
       |                (a, b) -> (a * 31 + b) % 1000000007)))) AS ph
       |  FROM t),
       |o AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM g),
       |cnt AS (SELECT h, count(*) AS n_occ FROM o GROUP BY 1),
       |r AS (SELECT doc_id, pos FROM o JOIN cnt USING (h) WHERE n_occ >= $minOcc)""".stripMargin

  private def repeatedSpansSql(gram: Int, minOcc: Int): String =
    s"""WITH ${repeatedCtes(gram, minOcc)},
       |i AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM r)
       |SELECT doc_id,
       |       min(pos) AS span_start,
       |       max(pos) + ${gram - 1} AS span_end,
       |       max(pos) + ${gram - 1} - min(pos) + 1 AS span_tokens,
       |       CAST(count(*) AS BIGINT) AS n_grams
       |FROM i GROUP BY doc_id, island""".stripMargin

  val repeatedSpans: QueryDef = QueryDef.sql(
    "x_repeated_spans", repeatedSpansSql(gram = 6, minOcc = 2)) { (s, d) =>
    repeatedSpansFrom(tokFrame(s, d), gram = 6, minOcc = 2)
  }

  /** Coarser gram (8 tokens): only ≥ 8-token runs count as repeats —
    * longer guarantee, sparser postings; same parameterized builder
    * and oracle CTE on both sides.
    */
  val repeatedSpansG8: QueryDef = QueryDef.sql(
    "x_repeated_spans_g8", repeatedSpansSql(gram = 8, minOcc = 2)) { (s, d) =>
    repeatedSpansFrom(tokFrame(s, d), gram = 8, minOcc = 2)
  }

  /** Exact-substring CUT — the back half of exact-substring dedup:
    * drop every token covered by any repeated `gram`-window occurrence
    * and re-join the survivors into a cleaned token stream. Emits
    * (doc_id, n_tokens, n_kept, clean_text) for every document;
    * fully-duplicated documents keep 0 tokens and an empty string.
    *
    * Scale shape on top of [[repeatedStartsFrom]]: coverage explodes each
    * repeated start into its `gram` covered positions (constant
    * fan-out, then distinct), the kept set is one anti-join on
    * (doc_id, pos), and reconstruction is a per-doc sort+join of the
    * surviving tokens — fan-out and state both bounded by document
    * length, the chunking/sessionize class, never corpus-sized.
    */
  def exactSubstrCutOf(docs: org.apache.spark.sql.DataFrame, gram: Int, minOcc: Int): org.apache.spark.sql.DataFrame =
    exactSubstrCutFrom(docs, TextOps.tokenHashFrame(docs), gram, minOcc)

  private def exactSubstrCutFrom(docs: org.apache.spark.sql.DataFrame,
      frame: org.apache.spark.sql.DataFrame, gram: Int, minOcc: Int): org.apache.spark.sql.DataFrame = {
    val covered = repeatedStartsFrom(frame, gram, minOcc)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (gram - 1))).as("p"))
      .distinct()
    TextOps.cutCoveredPositions(docs, frame, covered)
  }

  private def exactSubstrCutSql(gram: Int, minOcc: Int): String =
    s"""WITH ${repeatedCtes(gram, minOcc)},
       |cov AS (SELECT DISTINCT doc_id, p FROM
       |  (SELECT doc_id, unnest(generate_series(pos, pos + ${gram - 1})) AS p FROM r)),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |    i -> struct_pack(p := CAST(i AS BIGINT), tok := toks[i]))) AS pt
       |  FROM t),
       |k AS (
       |  SELECT tok.doc_id, tok.pt.p AS p, tok.pt.tok AS tok
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pt.p = cov.p
       |  WHERE cov.p IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY p) AS clean_text
       |  FROM k GROUP BY 1),
       |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
       |SELECT doc_id, n_tokens,
       |       coalesce(n_kept, 0) AS n_kept,
       |       coalesce(clean_text, '') AS clean_text
       |FROM n LEFT JOIN agg USING (doc_id)""".stripMargin

  val exactSubstrCut: QueryDef = QueryDef.sql(
    "x_exact_substr_cut", exactSubstrCutSql(gram = 6, minOcc = 2)) { (s, d) =>
    exactSubstrCutFrom(Tables.documents(s, d), tokFrame(s, d), gram = 6, minOcc = 2)
  }

  /** Coarser cut (8-token windows, matching x_repeated_spans_g8): only
    * ≥ 8-token repeats are excised, so more text survives — the
    * conservative-removal config; same parameterized builder and
    * oracle on both sides.
    */
  val exactSubstrCutG8: QueryDef = QueryDef.sql(
    "x_exact_substr_cut_g8", exactSubstrCutSql(gram = 8, minOcc = 2)) { (s, d) =>
    exactSubstrCutFrom(Tables.documents(s, d), tokFrame(s, d), gram = 8, minOcc = 2)
  }

  /** Per-document TF-IDF top-k keywords — the standard salient-term
    * extractor (index keys, topic labels, filter features). Scores are
    * EXACT integers, `tf · 10⁶ · N ÷ df` under integral division, so
    * both engines rank identically with no float-comparison edge;
    * ties break (score desc, term asc).
    *
    * Scale shape: term frequencies are one partial-agg groupBy on
    * (doc_id, term); document frequencies derive from that same
    * pinned frame by a groupBy on term; the join back is 1 row per
    * term on the df side (1:1 fan-out — a stopword's ubiquity cannot
    * blow it up); the corpus size is a 1-row broadcast (whitelisted
    * BNLJ, the x_approx_profile scalar pattern); the per-doc top-k
    * compiles to `WindowGroupLimit` like x_ngram_topk.
    */
  def tfidfTopkOf(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"degenerate tfidf config (k=$k)")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score_q", expr("tf * 1000000 * n_docs div df"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_q").desc, col("term"))))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_q"), col("rn").cast("long").as("rnk"))
  }

  private def tfidfTopkSql(k: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql()} AS toks FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |s AS (
       |  SELECT doc_id, term, tf, df,
       |         tf * 1000000 * (SELECT n_docs FROM n) // df AS score_q
       |  FROM tf JOIN df USING (term)),
       |r AS (
       |  SELECT doc_id, term, tf, df, score_q,
       |         CAST(row_number() OVER (
       |           PARTITION BY doc_id ORDER BY score_q DESC, term) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT doc_id, term, tf, df, score_q, rnk FROM r WHERE rnk <= $k""".stripMargin

  val tfidfTopk: QueryDef = QueryDef.sql(
    "x_tfidf_topk", tfidfTopkSql(k = 3)) { (s, d) =>
    tfidfTopkOf(Tables.documents(s, d), k = 3)
  }

  /** Wider keyword set (k=5): the recall-leaning config — more terms
    * per document survive into the index/label set; same parameterized
    * builder and oracle on both sides.
    */
  val tfidfTopkK5: QueryDef = QueryDef.sql(
    "x_tfidf_topk_k5", tfidfTopkSql(k = 5)) { (s, d) =>
    tfidfTopkOf(Tables.documents(s, d), k = 5)
  }

  /** Skip-gram context-pair mining — the word2vec/fastText training-
    * input generator: every (center, context) token pair within a
    * forward window of `w` positions, counted corpus-wide, top-k by
    * (count desc, pair asc). Zero-join formulation: posexplode the
    * token stream and explode each position's `slice(toks, i+1, w)`
    * forward context — fan-out is exactly w per token, never L², and
    * the count is one partial-agg groupBy on the pair. The top-k is a
    * global `orderBy().limit(k)` which compiles to
    * TakeOrderedAndProject (distributed top-k, no single-partition
    * sort of the full pair table); only the k survivors pass through
    * the rank window.
    */
  def skipgramTopkOf(docs: org.apache.spark.sql.DataFrame, w: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(w >= 1 && k >= 1, s"degenerate skipgram config (w=$w, k=$k)")
    val pairs = docs.select(tokens(col("text")).as("toks"))
      .select(posexplode(col("toks")).as(Seq("pos0", "tok_a")), col("toks"))
      .select(col("tok_a"),
        explode(slice(col("toks"), col("pos0") + lit(2), lit(w))).as("tok_b"))
    pairs.groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok_a"), col("tok_b")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n").desc, col("tok_a"), col("tok_b"))).cast("long"))
  }

  private def skipgramTopkSql(w: Int, k: Int): String =
    s"""WITH t AS (
       |  SELECT ${tokensSql()} AS toks FROM documents),
       |p AS (
       |  SELECT toks[i] AS tok_a,
       |         unnest(list_slice(toks, i + 1, i + $w)) AS tok_b
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM t)),
       |c AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
       |SELECT tok_a, tok_b, n,
       |       CAST(row_number() OVER (ORDER BY n DESC, tok_a, tok_b) AS BIGINT) AS rnk
       |FROM c ORDER BY n DESC, tok_a, tok_b LIMIT $k""".stripMargin

  val skipgramTopk: QueryDef = QueryDef.sql(
    "x_skipgram_topk", skipgramTopkSql(w = 3, k = 20)) { (s, d) =>
    skipgramTopkOf(Tables.documents(s, d), w = 3, k = 20)
  }

  /** Tighter window (w=2, k=10): the adjacent-collocation config;
    * same parameterized builder and oracle on both sides.
    */
  val skipgramTopkW2: QueryDef = QueryDef.sql(
    "x_skipgram_topk_w2", skipgramTopkSql(w = 2, k = 10)) { (s, d) =>
    skipgramTopkOf(Tables.documents(s, d), w = 2, k = 10)
  }

  /** Tokenizer-vocabulary coverage audit: derive the top-`v` corpus
    * vocabulary under the exact total order (count desc, token asc),
    * then report per-source OOV pressure — total tokens, tokens
    * outside the vocab, and the OOV rate. This is the coverage check
    * a tokenizer-training pass runs per source before freezing a
    * vocab: a source whose OOV rate is an outlier either needs vocab
    * budget or is the wrong distribution for the tokenizer.
    *
    * Scale shape: the vocab is `v` rows — built by one map-side-
    * partial token count and broadcast back; membership is a
    * broadcast LEFT join on the exploded token stream, so the only
    * full shuffle is the final |sources|-row aggregate. n_docs counts
    * docs with ≥ 1 token (explode drops empty token arrays — mirrored
    * by unnest on the oracle side).
    */
  private def vocabCoverageSql(v: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, unnest(${tokensSql()}) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
       |  ORDER BY cnt DESC, tok LIMIT $v)
       |SELECT source,
       |       CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |         nullif(count(*), 0) AS oov_rate
       |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |GROUP BY source""".stripMargin

  private[graft] def vocabCoverageOf(docs: org.apache.spark.sql.DataFrame,
      v: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(v)
      .select(col("tok").as("vtok"))
    toks.join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / nullif(col("n_tokens"), lit(0L)))
  }

  val vocabCoverage: QueryDef = QueryDef.sql(
    "x_vocab_coverage", vocabCoverageSql(v = 10)) { (s, d) =>
    vocabCoverageOf(Tables.documents(s, d), v = 10)
  }

  // The doubled-budget second config (x_vocab_coverage_v20) was FOLDED
  // in round 12 (registry hygiene): LlmOpsSpec pins the budget as a
  // real parameter of the vocabulary total order at v=1 vs v=2 on
  // constructed docs (coverage strictly widens), which is the same
  // property the v=20 oracle twin pinned. vocabCoverageOf keeps its
  // v parameter.

  /** Token-distribution drift audit between two corpus cohorts (here:
    * sources src0–src9 vs the rest — the old-crawl/new-crawl split a
    * recurring ingestion monitors): the top-`k` tokens whose unigram
    * rates moved most between the slices. The ranking key is the
    * EXACT cross-multiplied difference |cnt_a·tot_b − cnt_b·tot_a|
    * in DECIMAL arithmetic (never a float log-ratio, and decimal so
    * the products stay exact past the ~3·10⁹-token slice size where
    * Long products would wrap); the per-slice rates ride along as
    * evidence divisions. A token surging between crawls is the
    * classic spam-burst / template-drift tripwire run before mixing
    * a new snapshot in.
    *
    * Scale shape: one map-side-partial token count; totals and the
    * rank window run over the |vocab|-row aggregate frame (dictionary-
    * bounded, the x_mix_weights discipline), so the single-partition
    * windows never see corpus-sized input.
    */
  private def tokenDriftSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT try_cast(substr(source, 4) AS INT) < 10 AS is_a,
       |         unnest(${tokensSql()}) AS tok
       |  FROM documents),
       |cnt AS (
       |  SELECT tok,
       |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
       |  FROM toks GROUP BY tok),
       |tot AS (
       |  SELECT tok, cnt_a, cnt_b,
       |         CAST(sum(cnt_a) OVER () AS BIGINT) AS tot_a,
       |         CAST(sum(cnt_b) OVER () AS BIGINT) AS tot_b
       |  FROM cnt),
       |ranked AS (
       |  SELECT tok, cnt_a, cnt_b, tot_a, tot_b,
       |         row_number() OVER (ORDER BY
       |           abs(CAST(cnt_a AS DECIMAL(19,0)) * tot_b -
       |               CAST(cnt_b AS DECIMAL(19,0)) * tot_a) DESC,
       |           tok) AS rk
       |  FROM tot)
       |SELECT tok, cnt_a, cnt_b,
       |       CAST(cnt_a AS DOUBLE) / nullif(tot_a, 0) AS rate_a,
       |       CAST(cnt_b AS DOUBLE) / nullif(tot_b, 0) AS rate_b,
       |       CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin

  private[graft] def tokenDriftOf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(
      (expr("try_cast(substr(source, 4) as int)") < 10).as("is_a"),
      explode(tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("tok").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("cnt_a"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("cnt_b"))
    val all = Window.partitionBy() // rows = |vocab|: dictionary-bounded
    cnt
      .withColumn("tot_a", sum(col("cnt_a")).over(all))
      .withColumn("tot_b", sum(col("cnt_b")).over(all))
      .withColumn("rk", row_number().over(Window.orderBy(
        abs(col("cnt_a").cast("decimal(19,0)") * col("tot_b") -
          col("cnt_b").cast("decimal(19,0)") * col("tot_a")).desc,
        col("tok"))).cast("long"))
      .where(col("rk") <= k)
      .select(col("tok"), col("cnt_a"), col("cnt_b"),
        (col("cnt_a").cast("double") / nullif(col("tot_a"), lit(0L))).as("rate_a"),
        (col("cnt_b").cast("double") / nullif(col("tot_b"), lit(0L))).as("rate_b"),
        col("rk"))
  }

  val tokenDrift: QueryDef = QueryDef.sql(
    "x_token_drift", tokenDriftSql(k = 10)) { (s, d) =>
    tokenDriftOf(Tables.documents(s, d), k = 10)
  }

  /** The deeper cut (k = 25): same parameterized builder and oracle —
    * at the test vocab size this reaches into the stable tail, pinning
    * the exact rank order well past the genuinely-drifted head.
    */
  val tokenDriftK25: QueryDef = QueryDef.sql(
    "x_token_drift_k25", tokenDriftSql(k = 25)) { (s, d) =>
    tokenDriftOf(Tables.documents(s, d), k = 25)
  }

  /** Corpus-order n-gram novelty: for each document, the fraction of
    * its distinct k-grams whose FIRST corpus occurrence (min doc_id —
    * doc_id is the ingest order in this corpus) is this document.
    * The dedup-aware sampling signal: a doc that restates earlier
    * content scores near 0, a doc contributing new text scores near 1
    * — the per-doc form of the "how much does this shard add"
    * question, and the ranking a marginal-value sampler consumes.
    *
    * Scale shape: one groupBy(shingle) min-aggregation over the same
    * postings frame every dedup op builds (map-side combine collapses
    * each partition to its distinct grams first), one gram equi-join
    * back, one doc-keyed count — the x_decontaminate_frac join class,
    * no pair term anywhere. Exact integers decide everything; the only
    * float is the final reported ratio.
    */
  private def ngramNoveltySql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql()} AS tok FROM documents),
       |g AS (${shinglePostingsSql("toks", k)}),
       |f AS (SELECT ng, min(doc_id) AS first_doc FROM g GROUP BY 1)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
       |FROM g JOIN f USING (ng)
       |GROUP BY g.doc_id""".stripMargin

  private[graft] def ngramNoveltyOf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val grams = shinglePostings(docs, k)
    // first_doc via a shingle-keyed window rather than a groupBy +
    // self-join (optimization round): the join formulation shuffled
    // the full-width gram table twice (once to aggregate the minima,
    // once to attach them); the window computes the same min in the
    // single shingle-keyed pass. Identical values — min over the
    // shingle's rows either way.
    grams
      .withColumn("first_doc",
        min("doc_id").over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  val ngramNovelty: QueryDef = QueryDef.sql(
    "x_ngram_novelty", ngramNoveltySql(k = 8)) { (s, d) =>
    ngramNoveltyOf(Tables.documents(s, d), k = 8)
  }

  /** k=5: shorter grams repeat more across docs, so this config is the
    * stricter novelty bar (more grams count as already-seen).
    */
  val ngramNoveltyK5: QueryDef = QueryDef.sql(
    "x_ngram_novelty_k5", ngramNoveltySql(k = 5)) { (s, d) =>
    ngramNoveltyOf(Tables.documents(s, d), k = 5)
  }

  /** Per-document token-rarity profile: each token occurrence is
    * banded by its CORPUS collection frequency (hapax cf = 1, rare
    * cf ≤ rareMax, mid cf ≤ midMax, common above), and the document
    * reports its occupancy of each band plus the exact quantized
    * rare-mass fraction (hapax + rare over all occurrences). This is
    * the frequency-profile quality signal of the CCNet family: a doc
    * dominated by hapax/rare tokens is gibberish, OCR noise, or a
    * vocabulary outlier; one with almost no rare mass is boilerplate —
    * both tails are what a rarity-aware filter trims, and unlike an
    * LM-perplexity score the evidence here is exact integers, so the
    * same doc scores identically on any engine at any parallelism.
    *
    * Scale shape: one token-keyed groupBy for the corpus cf table
    * (vocabulary-bounded — Heaps-law sublinear in corpus size), one
    * token-keyed equi-join of occurrences against it, one doc-keyed
    * conditional-count aggregate. No window, no pairs; every shuffle
    * key is the token or the doc id.
    */
  private def rarityProfileOf(docs: org.apache.spark.sql.DataFrame, rareMax: Long,
      midMax: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val cf = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
    toks.join(cf, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("cf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("cf") > 1L && col("cf") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        sum(when(col("cf") > rareMax && col("cf") <= midMax, 1L).otherwise(0L)).as("n_mid"),
        sum(when(col("cf") > midMax, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_tok"), col("n_hapax"), col("n_rare"),
        col("n_mid"), col("n_common"),
        expr("(n_hapax + n_rare) * 1000000 div n_tok").as("rare_frac_q"))
  }

  private def rarityProfileSql(rareMax: Long, midMax: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql()}) AS tok
       |  FROM documents),
       |cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM toks GROUP BY tok),
       |p AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |         CAST(sum(CASE WHEN c.cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |         CAST(sum(CASE WHEN c.cf > 1 AND c.cf <= $rareMax THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |         CAST(sum(CASE WHEN c.cf > $rareMax AND c.cf <= $midMax THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
       |         CAST(sum(CASE WHEN c.cf > $midMax THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       |  FROM toks t JOIN cf c ON c.tok = t.tok GROUP BY 1)
       |SELECT doc_id, n_tok, n_hapax, n_rare, n_mid, n_common,
       |       CAST((n_hapax + n_rare) * 1000000 // n_tok AS BIGINT) AS rare_frac_q
       |FROM p""".stripMargin

  val rarityProfile: QueryDef = QueryDef.sql(
    "x_rarity_profile", rarityProfileSql(rareMax = 8L, midMax = 64L)) { (s, d) =>
    rarityProfileOf(Tables.documents(s, d), rareMax = 8L, midMax = 64L)
  }

  /** Tighter band edges (rare ≤ 4, mid ≤ 32): more mass lands in the
    * common band, so this is the config that treats only the extreme
    * tail as rare — pins both thresholds as real parameters.
    */
  val rarityProfileT4: QueryDef = QueryDef.sql(
    "x_rarity_profile_t4", rarityProfileSql(rareMax = 4L, midMax = 32L)) { (s, d) =>
    rarityProfileOf(Tables.documents(s, d), rareMax = 4L, midMax = 32L)
  }

  /** Per-language PMI collocation mining: the top-k adjacent bigrams
    * by pointwise mutual information — the phrase-mining primitive
    * behind tokenizer-vocabulary merges ("new york" deserves one
    * token), stop-phrase lists, and multi-word-entity harvesting.
    * PMI = log p(ab) / (p(a)·p(b)); since log is monotone we rank by
    * the RATIO with all probabilities measured over the per-language
    * bigram-position universe B: ratio = n_pair·B / (n_w1·n_w2). The
    * numerator and denominator are exact BIGINTs (≤ 1e14 at sf1, well
    * inside the 2^53 double-exact range), so the single IEEE division
    * is bit-identical on any engine and the quantized score column is
    * deterministic — no float-summation anywhere. A count floor
    * (n_pair ≥ minCount) applies BEFORE scoring, the standard PMI
    * guard against the rare-pair explosion (a hapax bigram of two
    * hapax words scores B, the maximum, and is pure noise).
    *
    * Scale shape: one (lang, gram)-keyed count and one (lang,
    * tok)-keyed count — both combine map-side and key on content, so
    * no hot key regardless of language skew; B is a |languages|-row
    * aggregate of the gram counts (broadcast); the floored gram table
    * (vocabulary-bounded, further cut by the floor) re-joins the
    * unigram table on (lang, token) equi-keys; the per-language top-k
    * compiles to WindowGroupLimit. At 100 TB the floor is the knob:
    * raising it shrinks every downstream join input.
    */
  def pmiTopkOf(docs: org.apache.spark.sql.DataFrame, minCount: Long,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(minCount >= 2 && k >= 1, s"degenerate pmi config ($minCount, $k)")
    val toks = docs.select(col("lang"), tokens(col("text")).as("toks"))
    val uni = toks.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cf"))
    val grams = toks.select(col("lang"), explode(StringShingles(col("toks"), 2)).as("gram"))
    val c = grams.groupBy("lang", "gram").agg(count(lit(1)).as("n_pair"))
    // B counts ALL bigram positions, so it aggregates c before the floor
    val btot = c.groupBy("lang").agg(sum("n_pair").as("n_bigrams"))
    // tokens are [a-z0-9]+ runs, so the space split is a lossless
    // round-trip of the gram back into its two words
    val fl = c.where(col("n_pair") >= minCount)
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
    val scored = fl
      .join(broadcast(btot), "lang")
      .join(uni.select(col("lang"), col("tok").as("w1"), col("cf").as("n_w1")), Seq("lang", "w1"))
      .join(uni.select(col("lang"), col("tok").as("w2"), col("cf").as("n_w2")), Seq("lang", "w2"))
      .withColumn("pmi_q6",
        round((col("n_pair") * col("n_bigrams")).cast("double") /
          (col("n_w1") * col("n_w2")).cast("double") * 1e6).cast("long"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("pmi_q6").desc, col("gram"))))
      .where(col("rn") <= k)
      .select(col("lang"), col("gram"), col("n_pair"), col("n_w1"), col("n_w2"),
        col("n_bigrams"), col("pmi_q6"), col("rn").cast("long").as("rnk"))
  }

  private def pmiTopkSql(minCount: Long, k: Int): String =
    s"""WITH t AS (
       |  SELECT lang, ${tokensSql()} AS toks FROM documents),
       |uni AS (
       |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cf
       |  FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
       |g AS (
       |  SELECT lang, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS gram FROM t),
       |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n_pair FROM g GROUP BY 1, 2),
       |btot AS (SELECT lang, CAST(sum(n_pair) AS BIGINT) AS n_bigrams FROM c GROUP BY 1),
       |fl AS (
       |  SELECT lang, gram, n_pair,
       |         string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
       |  FROM c WHERE n_pair >= $minCount),
       |s AS (
       |  SELECT f.lang, f.gram, f.n_pair, u1.cf AS n_w1, u2.cf AS n_w2, b.n_bigrams,
       |         CAST(round(CAST(f.n_pair * b.n_bigrams AS DOUBLE)
       |                    / CAST(u1.cf * u2.cf AS DOUBLE) * 1000000.0) AS BIGINT) AS pmi_q6
       |  FROM fl f
       |  JOIN btot b ON b.lang = f.lang
       |  JOIN uni u1 ON u1.lang = f.lang AND u1.tok = f.w1
       |  JOIN uni u2 ON u2.lang = f.lang AND u2.tok = f.w2),
       |r AS (
       |  SELECT lang, gram, n_pair, n_w1, n_w2, n_bigrams, pmi_q6,
       |         CAST(row_number() OVER (PARTITION BY lang ORDER BY pmi_q6 DESC, gram) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT lang, gram, n_pair, n_w1, n_w2, n_bigrams, pmi_q6, rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  val pmiCollocations: QueryDef = QueryDef.sql(
    "x_pmi_collocations", pmiTopkSql(minCount = 5L, k = 15)) { (s, d) =>
    pmiTopkOf(Tables.documents(s, d), minCount = 5L, k = 15)
  }

  /** Looser floor, tighter head (m=3, k=8): admits rarer pairs into
    * scoring — the config that shifts the head toward low-frequency
    * high-PMI phrases, pinning both parameters as real in both
    * engines.
    */
  val pmiCollocationsM3: QueryDef = QueryDef.sql(
    "x_pmi_collocations_m3", pmiTopkSql(minCount = 3L, k = 8)) { (s, d) =>
    pmiTopkOf(Tables.documents(s, d), minCount = 3L, k = 8)
  }

  /** BPE merge-pair mining — the inner step of byte-pair-encoding
    * tokenizer training: the corpus-weighted count of every adjacent
    * symbol pair, ranked; rank 1 is the merge BPE would perform next.
    * The defining scale trick rides in the plan: pair counting runs on
    * the DISTINCT-WORD frame weighted by word frequency (one
    * content-keyed, map-side-combinable shuffle builds the vocabulary
    * table; everything after is vocabulary-bounded, independent of
    * corpus row count — exactly how production BPE trainers scale).
    * Counts are exact BIGINTs; occurrences within a word count
    * per-position (overlapping), the BPE convention.
    *
    * The `_r2` config pins ITERATION semantics: it applies the rank-1
    * merge greedily left-to-right (string replace — non-overlapping,
    * leftmost-first, BPE's exact merge rule: 'aaa' under merge 'aa'
    * becomes [aa, a], never two overlapping 'aa's) with a placeholder
    * symbol, then recounts — the second round's candidate table, with
    * pair names decoded back through the merge. Tokens are [a-z0-9]+
    * so the placeholder ('Z') cannot collide.
    *
    * The rank window runs on the ≤|alphabet|²-bounded pair frame
    * (≤ ~1.4k cells at round 1), never on corpus rows.
    */
  private def wordFreqSql: String =
    s"""wf AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(${tokensSql()}) AS word
      |        FROM documents)
      |  GROUP BY word)""".stripMargin

  private def pairCountSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occ
       |  FROM (
       |    SELECT substr(word, i, 2) AS pair, freq
       |    FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
       |          FROM $src WHERE length(word) >= 2))
       |  GROUP BY pair)""".stripMargin

  private def bpeMergesSql(k: Int): String =
    s"""WITH $wordFreqSql,
       |${pairCountSql("wf", "c")}
       |SELECT pair, n_occ,
       |       CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS BIGINT) AS rnk
       |FROM c QUALIFY rnk <= $k""".stripMargin

  private def bpeMergesR2Sql(k: Int): String =
    s"""WITH $wordFreqSql,
       |${pairCountSql("wf", "c")},
       |top1 AS (
       |  SELECT pair AS m FROM c ORDER BY n_occ DESC, pair LIMIT 1),
       |wf2 AS (
       |  SELECT replace(word, top1.m, 'Z') AS word, freq FROM wf, top1),
       |${pairCountSql("wf2", "c2")},
       |r AS (
       |  SELECT c2.pair, c2.n_occ,
       |         CAST(row_number() OVER (ORDER BY c2.n_occ DESC, c2.pair) AS BIGINT) AS rnk
       |  FROM c2 QUALIFY rnk <= $k)
       |SELECT concat(
       |         CASE WHEN substr(r.pair, 1, 1) = 'Z' THEN top1.m ELSE substr(r.pair, 1, 1) END,
       |         '+',
       |         CASE WHEN substr(r.pair, 2, 1) = 'Z' THEN top1.m ELSE substr(r.pair, 2, 1) END
       |       ) AS pair, r.n_occ, r.rnk
       |FROM r, top1""".stripMargin

  private def wordFreqDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  private def pairCountDf(wf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    wf.where(length(col("word")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"), col("freq"))
      .groupBy("pair").agg(sum("freq").as("n_occ"))

  private def rankTopK(c: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
    // rows = |alphabet|²: bounded pair frame, see scaladoc
    c.withColumn("rnk", row_number().over(
        Window.orderBy(col("n_occ").desc, col("pair"))).cast("long"))
      .where(col("rnk") <= k)

  /** Rank-1 of the pair-count frame as an ARGMIN aggregate —
    * `min(struct(-n_occ, pair))` selects exactly the row_number()=1
    * row of the (n_occ DESC, pair ASC) total order, but as a plain
    * two-phase aggregation: map-side combinable in both phases, no
    * global-sort exchange and no WindowExec stage per trainer round
    * (the r16 gopher argmin lesson applied to the BPE loop, where the
    * rank runs once per round × rounds). k>1 sites keep the window.
    */
  private def top1Pair(c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    c.agg(min(struct((-col("n_occ")).as("neg"), col("pair"))).as("t"))
      .select(col("t.pair").as("pair"), (-col("t.neg")).as("n_occ"))

  private[graft] def bpeMergesOf(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    rankTopK(pairCountDf(wordFreqDf(docs)), k).select("pair", "n_occ", "rnk")

  private[graft] def bpeMergesR2Of(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val wf = wordFreqDf(docs)
    val top1 = top1Pair(pairCountDf(wf)).select(col("pair").as("m"))
    // 1-row merge broadcast — the x_approx_profile scalar pattern.
    // replace() is literal (not regex) and leftmost-non-overlapping,
    // BPE's exact greedy merge rule; it is injective on Z-free words
    // (expanding Z back to the merged pair reconstructs the original),
    // so merged words never collide and no re-aggregation is needed.
    val wf2 = wf.crossJoin(broadcast(top1))
      .select(replace(col("word"), col("m"), lit("Z")).as("word"), col("freq"))
    val r = rankTopK(pairCountDf(wf2), k)
    def dec(sym: Column, m: Column): Column = when(sym === "Z", m).otherwise(sym)
    r.crossJoin(broadcast(top1))
      .select(
        concat(dec(col("pair").substr(1, 1), col("m")), lit("+"),
          dec(col("pair").substr(2, 1), col("m"))).as("pair"),
        col("n_occ"), col("rnk"))
  }

  val bpeMerges: QueryDef = QueryDef.sql(
    "x_bpe_merges", bpeMergesSql(k = 10)) { (s, d) =>
    bpeMergesOf(Tables.documents(s, d), k = 10)
  }

  val bpeMergesR2: QueryDef = QueryDef.sql(
    "x_bpe_merges_r2", bpeMergesR2Sql(k = 10)) { (s, d) =>
    bpeMergesR2Of(Tables.documents(s, d), k = 10)
  }

  // ----------------------------------------------------------------
  // Iterative BPE merge TABLE — the real trainer inner loop: n rounds
  // of (count pairs → take rank-1 → replace with a fresh placeholder
  // symbol → recount on the merged vocabulary). `_r2` pinned the
  // single-step semantics; this is the loop that actually builds a
  // tokenizer's merge list.
  // ----------------------------------------------------------------

  /** Placeholder alphabet for merged symbols: tokens are [a-z0-9]+,
    * so uppercase letters can never collide with corpus text or each
    * other. One letter per round (round i's merge target may itself
    * contain earlier placeholders — replace() is literal, so nesting
    * is exact).
    */
  private val BpePlaceholders = "ZYXWVUTSRQ".map(_.toString)

  /** The n-round merge table `(round, pair, n_occ)`: for each round,
    * the merge BPE performs (both symbols fully DECODED back through
    * every earlier merge — `th+e`, never `Z+e`) and its corpus-weighted
    * count at selection time. The whole loop stays on the
    * vocabulary-bounded word-frequency frame: each round is one
    * pair-explode + content-keyed aggregation over |vocab| rows, one
    * |alphabet|²-bounded rank, and a 1-row broadcast merge — corpus
    * row count never re-enters after the initial wf build, which is
    * exactly how production BPE trainers scale (and why the loop is
    * affordable at any corpus size: rounds × O(|vocab|), not
    * rounds × O(corpus)).
    *
    * The decode is a pure column expression built by recursion over
    * the accumulated 1-row merge frame: placeholder `P_i` expands to
    * merge i's two symbols, themselves expanded — so the emitted table
    * is directly the human-readable merge list a tokenizer ships.
    */
  /** The trained 1-row merge frame (columns m0,n0 .. m_{r-1},n_{r-1})
    * — the shared trainer core of the merge-table dump and the encode
    * query. Each round's wf is PINNED (lazy localCheckpoint of the
    * narrow, vocabulary-bounded (word, freq) frame): round i's pair
    * count and round i+1's replace both read it, and without the pin
    * round i's lineage re-derives every earlier round from the corpus
    * — an O(rounds²) recompute (measured 4.6 s → ~1.7 s at sf0.1,
    * 5 rounds).
    */
  private[graft] def bpeMergesFrame(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && rounds <= BpePlaceholders.size,
      s"rounds must be in 1..${BpePlaceholders.size}: $rounds")
    var wf = wordFreqDf(docs).localCheckpoint(false)
    var merges: org.apache.spark.sql.DataFrame = null
    for (i <- 0 until rounds) {
      val t = top1Pair(pairCountDf(wf))
        .select(col("pair").as(s"m$i"), col("n_occ").as(s"n$i"))
      merges = if (merges == null) t else merges.crossJoin(broadcast(t))
      wf = wf.crossJoin(broadcast(t.select(col(s"m$i"))))
        .select(replace(col("word"), col(s"m$i"), lit(BpePlaceholders(i))).as("word"),
          col("freq"))
        .localCheckpoint(false)
    }
    merges
  }

  /** The trained merge frame as a shared materialized artifact — the
    * dump (x_bpe_merge_table) and the application (x_bpe_encode) run
    * off ONE training chain, the way a tokenizer is trained once and
    * shipped; Bench prices the training as its own `bpe_build` line.
    */
  private def trainedMerges(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int): org.apache.spark.sql.DataFrame =
    SharedIndex.materialized(s, d, s"bpe_merges_r$rounds") {
      bpeMergesFrame(Tables.documents(s, d), rounds)
    }

  private[graft] def bpeBuildDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = trainedMerges(s, d, rounds = 5)

  private[graft] def bpeMergeTableOf(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame =
    bpeMergeTableFrom(bpeMergesFrame(docs, rounds), rounds)

  private def bpeMergeTableFrom(merges: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    // full expansion of merge i's output symbol (placeholder i):
    // expand each of m_i's two chars through every EARLIER round
    def expandChar(c: Column, upTo: Int): Column =
      (0 until upTo).foldRight(c) { (j, els) =>
        when(c === BpePlaceholders(j), expansion(j)).otherwise(els)
      }
    def expansion(i: Int): Column =
      concat(expandChar(col(s"m$i").substr(1, 1), i),
        expandChar(col(s"m$i").substr(2, 1), i))
    (0 until rounds).map { i =>
      merges.select(
        lit((i + 1).toLong).as("round"),
        concat(expandChar(col(s"m$i").substr(1, 1), i), lit("+"),
          expandChar(col(s"m$i").substr(2, 1), i)).as("pair"),
        col(s"n$i").as("n_occ"))
    }.reduce(_ unionAll _)
  }

  /** The oracle twin: the same loop unrolled into generated CTEs —
    * wf_i / c_i / t_i per round plus e_i expansion CTEs carrying the
    * decoded text of each placeholder.
    */
  private def bpeMergeTableSql(rounds: Int): String = {
    val roundCtes = (0 until rounds).map { i =>
      val src = if (i == 0) "wf" else s"wf$i"
      val next =
        s"""${pairCountSql(src, s"c$i")},
           |t$i AS (
           |  SELECT pair AS m, n_occ FROM c$i ORDER BY n_occ DESC, pair LIMIT 1),
           |wf${i + 1} AS (
           |  SELECT replace(word, t$i.m, '${BpePlaceholders(i)}') AS word, freq
           |  FROM $src, t$i)""".stripMargin
      next
    }.mkString(",\n")
    def decChar(expr: String, upTo: Int): String =
      if (upTo == 0) expr
      else (0 until upTo).foldRight(expr) { (j, els) =>
        s"CASE WHEN $expr = '${BpePlaceholders(j)}' THEN e$j.exp ELSE $els END"
      }
    val expCtes = (0 until rounds).map { i =>
      val from = (s"t$i" +: (0 until i).map(j => s"e$j")).mkString(", ")
      s"""e$i AS (
         |  SELECT concat(${decChar(s"substr(t$i.m, 1, 1)", i)},
         |                ${decChar(s"substr(t$i.m, 2, 1)", i)}) AS exp,
         |         concat(${decChar(s"substr(t$i.m, 1, 1)", i)}, '+',
         |                ${decChar(s"substr(t$i.m, 2, 1)", i)}) AS pair,
         |         t$i.n_occ AS n_occ
         |  FROM $from)""".stripMargin
    }.mkString(",\n")
    val rows = (0 until rounds).map(i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS round, pair, n_occ FROM e$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $wordFreqSql,
       |$roundCtes,
       |$expCtes
       |$rows""".stripMargin
  }

  val bpeMergeTable: QueryDef = QueryDef.sql(
    "x_bpe_merge_table", bpeMergeTableSql(rounds = 5)) { (s, d) =>
    bpeMergeTableFrom(trainedMerges(s, d, rounds = 5), rounds = 5)
  }

  /** Tokenizer APPLICATION — the step after training: encode the
    * corpus under the `rounds`-merge vocabulary and report, per
    * source, the exact char-level symbol mass before and after plus
    * the quantized compression ratio (symbols·10⁶ div chars). This is
    * the number that decides whether a merge budget is worth shipping,
    * and per source it exposes which acquisitions tokenize poorly
    * (code-ish or non-dominant-language sources compress worse under
    * merges trained on the corpus majority).
    *
    * Scale trick, same as training: encoding applies the merge chain
    * to the DISTINCT global vocabulary (vocab-bounded, each merge a
    * 1-row broadcast literal replace), then one equi-join puts
    * per-source frequencies beside the encoded lengths — corpus row
    * count touches only the per-source word count shuffle. Symbol
    * count = encoded string length exactly because every placeholder
    * is one char; all outputs are exact integers.
    */
  private[graft] def bpeEncodeOf(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame =
    bpeEncodeFrom(bpeMergesFrame(docs, rounds), docs, rounds)

  private def bpeEncodeFrom(merges: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val wfs = docs.select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    val enc = wfs.select("word").distinct()
      .crossJoin(broadcast(merges))
      .select(col("word"),
        (0 until rounds).foldLeft(col("word")) { (e, i) =>
          replace(e, col(s"m$i"), lit(BpePlaceholders(i)))
        }.as("enc"))
    wfs.join(enc, "word")
      .groupBy("source").agg(
        sum(col("freq") * length(col("word"))).as("n_chars"),
        sum(col("freq") * length(col("enc"))).as("n_symbols"))
      .select(col("source"), col("n_chars"), col("n_symbols"),
        expr("n_symbols * 1000000 div n_chars").as("compression_q"))
  }

  private def bpeEncodeSql(rounds: Int): String = {
    val roundCtes = (0 until rounds).map { i =>
      val src = if (i == 0) "wf" else s"wf$i"
      s"""${pairCountSql(src, s"c$i")},
         |t$i AS (
         |  SELECT pair AS m, n_occ FROM c$i ORDER BY n_occ DESC, pair LIMIT 1),
         |wf${i + 1} AS (
         |  SELECT replace(word, t$i.m, '${BpePlaceholders(i)}') AS word, freq
         |  FROM $src, t$i)""".stripMargin
    }.mkString(",\n")
    val encExpr = (0 until rounds).foldLeft("v.word") { (e, i) =>
      s"replace($e, t$i.m, '${BpePlaceholders(i)}')"
    }
    val tRefs = (0 until rounds).map(i => s"t$i").mkString(", ")
    s"""WITH $wordFreqSql,
       |$roundCtes,
       |wfs AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT source, unnest(${tokensSql()}) AS word
       |        FROM documents)
       |  GROUP BY source, word),
       |enc AS (
       |  SELECT v.word, $encExpr AS enc
       |  FROM (SELECT DISTINCT word FROM wfs) v, $tRefs)
       |SELECT wfs.source,
       |       CAST(sum(wfs.freq * length(wfs.word)) AS BIGINT) AS n_chars,
       |       CAST(sum(wfs.freq * length(enc.enc)) AS BIGINT) AS n_symbols,
       |       CAST(sum(wfs.freq * length(enc.enc)) * 1000000
       |            // sum(wfs.freq * length(wfs.word)) AS BIGINT) AS compression_q
       |FROM wfs JOIN enc ON wfs.word = enc.word
       |GROUP BY wfs.source""".stripMargin
  }

  val bpeEncode: QueryDef = QueryDef.sql(
    "x_bpe_encode", bpeEncodeSql(rounds = 5)) { (s, d) =>
    bpeEncodeFrom(trainedMerges(s, d, rounds = 5), Tables.documents(s, d), rounds = 5)
  }

  val all: Seq[QueryDef] =
    Seq(textStats, langId, langAudit, fingerprint, qualitySignals, winnowFingerprints,
      winnowFingerprintsW5, winnowPairs, ngramTopk, ngramTopkT3,
      repeatedSpans, repeatedSpansG8, exactSubstrCut, exactSubstrCutG8,
      tfidfTopk, tfidfTopkK5, skipgramTopk, skipgramTopkW2,
      vocabCoverage, tokenDrift, tokenDriftK25,
      ngramNovelty, ngramNoveltyK5, rarityProfile, rarityProfileT4,
      pmiCollocations, pmiCollocationsM3, bpeMerges, bpeMergesR2, bpeMergeTable,
      bpeEncode)
}
