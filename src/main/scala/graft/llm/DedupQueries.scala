package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.llm.TextOps.{exactFp, exactFpSql, normText, normTextSql, shinglePostingsSql, tokens, tokensSql}

/** Deduplication operators for LLM training-data pipelines: exact
  * (hash-group), n-gram Jaccard (inverted-index join), MinHash+LSH
  * (signature → band → bucket-join → verify), SimHash (bit-vote →
  * chunk-band → hamming).
  *
  * Scale design: every algorithm here is the posting-list formulation —
  * no doc×doc cross join ever materializes. Candidate generation is a
  * shuffle on shingle/band/chunk keys whose fan-out is bounded by the
  * data (banding for MinHash, bit-chunks for SimHash), then exact
  * verification runs only on candidates. This is the shape that holds
  * at 100 TB.
  *
  * MinHash (permutation count, band layout) and SimHash (signature
  * bits, chunk count, hamming radius) are PARAMETERS of the builders
  * below — at larger corpus sizes you raise permutations/bits so bucket
  * occupancy (and the quadratic within-bucket pairing) stays bounded.
  * The default-config queries use 8 perms / 4 bands and 60 bits / 4
  * chunks; `x_dedup_simhash_b48` and `x_minhash_estimate_p16` run the
  * same builders at non-default configs, oracle-checked, to pin that
  * the parameterization is real. The 16-perm cross-config identity
  * and the 7/10 containment tier are pinned in LlmOpsSpec.
  *
  * All shingle-based queries run on [[SharedIndex.sidPostings]] — the
  * `(doc_id, sid)` inverted index materialized once per (JVM, sf-dir)
  * and reused across the family, the way a production pipeline
  * amortizes its index build across the whole dedup job family.
  */
object DedupQueries {

  private val P = 1000000007L
  // minhash permutation pool h_i(x) = (A_i·x + B_i) mod P; the default
  // config uses the first 8, the wide config the first 16.
  //
  // The multipliers MUST be large enough that a·sid wraps P for
  // ordinary sid values: with small multipliers (an earlier pool used
  // 101..1601) and a vocabulary below P/a ≈ 10⁶ shingles, a·sid + b
  // never exceeds P, every "permutation" is order-PRESERVING in sid,
  // and all perms components collapse to the one statistic min(sid) —
  // the signature carries 1 bit instead of perms estimates and
  // banding does nothing (caught by the x_minhash_estimate
  // calibration audit: every candidate pair agreed on all 16
  // components across exact Jaccard 0.005–0.99). Large primes ≈ 10⁸+
  // wrap the modulus from sid = 2 up. Overflow: sid is reduced mod P
  // before the multiply (see minhashSig), so a·(sid % P) < P² < 2⁶³
  // for ANY sid — dictionary ids and raw 2⁵⁰-scale hashes alike.
  private val A = Seq(101234597L, 157234579L, 213234569L, 269234569L,
    325234577L, 381234583L, 437234573L, 493234571L, 549234583L, 605234633L,
    661234579L, 717234571L, 773234629L, 829234573L, 885234587L, 941234573L)
  private val B = Seq(17L, 29L, 43L, 59L, 71L, 89L, 97L, 113L,
    127L, 139L, 151L, 163L, 179L, 191L, 199L, 223L)

  /** Exact dedup: fingerprint = md5 of the whitespace-normalized text;
    * group members point at the minimum doc_id as keeper.
    */
  val dedupExact: QueryDef = QueryDef.sql(
    "x_dedup_exact",
    s"""WITH f AS (
      |  SELECT doc_id, $exactFpSql AS fp
      |  FROM documents)
      |SELECT doc_id, fp,
      |       min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
      |       CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fp)
      |            THEN 'TRUE' ELSE 'FALSE' END AS is_duplicate
      |FROM f""") { (s, d) =>
    val f = Tables.documents(s, d).select(col("doc_id"), exactFp(col("text")).as("fp"))
    val w = Window.partitionBy("fp")
    f.select(
      col("doc_id"), col("fp"),
      min("doc_id").over(w).as("keeper_id"),
      when(col("doc_id") =!= min("doc_id").over(w), "TRUE")
        .otherwise("FALSE").as("is_duplicate"))
  }

  // ----------------------------------------------------------------
  // Shared building blocks over the (doc_id, sid) postings index.
  // Candidate generators and the exact-Jaccard verifier are the same
  // dataflow in every near-dup query; only the candidate policy varies.
  // ----------------------------------------------------------------

  /** Largest document frequency of a RARE shingle (the oracle SQL's `<= 8`). */
  private[graft] val RareDfCap = 8

  /** The RARE shingles of a postings table: document frequency ≤ [[RareDfCap]]. */
  private[graft] def rareSids(post: DataFrame): DataFrame =
    post.groupBy("sid").agg(count(lit(1)).as("df"))
      .where(col("df") <= RareDfCap).select("sid")

  /** Candidate pairs that share a RARE shingle (document frequency ≤
    * [[RareDfCap]] — prunes the df² blowup that common shingles cause
    * in a naive postings self-join). Candidate volume is bounded by Σ
    * df² over rare shingles only; near-dup pairs (sharing ~all shingles)
    * virtually always share a rare one, so recall is preserved.
    */
  private[graft] def rareShingleCandidates(post: DataFrame): DataFrame = {
    val a = post.join(rareSids(post), "sid").select(col("doc_id").as("doc_a"), col("sid"))
    val b = post.select(col("doc_id").as("doc_b"), col("sid").as("sid_r"))
    a.join(b, col("sid") === col("sid_r") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** `perms`-permutation MinHash signature per `key` value (columns
    * h0..h_{n-1}) over `(key, sid)` postings — per doc or per source.
    */
  private def minhashSig(post: DataFrame, key: String, perms: Int): DataFrame = {
    require(perms <= A.size, s"perm pool exhausted: $perms")
    // sid is reduced mod P BEFORE the multiply: a·(sid % P) < P² < 2⁶³
    // for every possible sid, so the permutation never overflows int64
    // (ANSI mode would throw) even when sids are themselves 2⁵⁰-scale
    // hashes rather than dense dictionary ids. For dictionary sids
    // (< P) the reduction is the identity — results are unchanged.
    val sidr = col("sid") % P
    val hs = A.zip(B).take(perms).zipWithIndex.map { case ((a, b), i) =>
      min((sidr * a + b) % P).as(s"h$i") }
    post.groupBy(key).agg(hs.head, hs.tail: _*)
  }

  /** Number of matching signature components `h_i` between the
    * signature frames aliased `a` and `b`.
    */
  private def sigAgreement(a: String, b: String, perms: Int): org.apache.spark.sql.Column =
    (0 until perms).map(i => when(col(s"$a.h$i") === col(s"$b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)

  /** Candidate pairs that share a MinHash band bucket (`bands` bands ×
    * perms/bands rows). The signature is unpivoted into (band, key)
    * rows so ONE equi-join covers all bands — no OR-join blowup;
    * sub-quadratic at any corpus size. The band key is the base-P
    * digit encoding of its rows (each h < P), exact in a Long for up
    * to 2 rows per band.
    */
  private[graft] def bandCandidates(post: DataFrame, perms: Int = 8, bands: Int = 4): DataFrame = {
    require(perms % bands == 0 && perms / bands <= 2,
      s"unsupported band layout: $perms perms / $bands bands")
    val rpb = perms / bands
    val sig = minhashSig(post, "doc_id", perms)
    val banded = sig.select(col("doc_id"), explode(array(
      (0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          (0 until rpb).map(r => col(s"h${rpb * bnd + r}"))
            .reduceLeft((k, h) => k * P + h).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** UNTHRESHOLDED exact overlap evidence for candidate pairs:
    * `(doc_a, doc_b, overlap, n_a, n_b)`, where `pa` and `pb` are the
    * `(doc_id, sid)` postings of the a side and the b side. `overlap`
    * comes from `cand ⋈ pa ⋈ pb` on (doc, sid); `n_a` is a doc's row
    * count in `pa`, `n_b` its row count in `pb`. Cost is candidates ×
    * doc-size, never corpus². Kept threshold-free so ONE
    * materialization serves every downstream cut — symmetric Jaccard
    * (≥ 0.8) and both directed containment tiers read the same table.
    * This is the one overlap join of the dedup family and the
    * streaming near-dup ingest.
    */
  private[graft] def pairOverlaps(cand: DataFrame, pa: DataFrame, pb: DataFrame): DataFrame = {
    def counts(p: DataFrame) = p.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // one side's postings serving both: its count table is pinned (lazy
    // localCheckpoint), because both the n_a and the n_b attach read it,
    // and without the pin the plan derives the postings scan + count
    // aggregation twice (the two branches' broadcast exchanges do not
    // canonicalize to one — observed in the executed plan as two
    // separate build chains)
    val (ca, cb) =
      if (pa eq pb) { val c = counts(pa).localCheckpoint(false); (c, c) }
      else (counts(pa), counts(pb))
    cand
      .join(pa.select(col("doc_id").as("da2"), col("sid").as("sid_a")), col("doc_a") === col("da2"))
      .join(pb.select(col("doc_id").as("db2"), col("sid").as("sid_b")),
        col("doc_b") === col("db2") && col("sid_a") === col("sid_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("overlap"))
      .join(ca.select(col("doc_id").as("ca"), col("n").as("n_a")), col("doc_a") === col("ca"))
      .join(cb.select(col("doc_id").as("cb"), col("n").as("n_b")), col("doc_b") === col("cb"))
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"), col("n_b"))
  }

  /** The symmetric near-dup cut over an overlap-evidence table: j ≥ 0.8
    * as the exact-integer test 5·overlap ≥ 4·union, plus the evidence
    * division.
    */
  private[graft] def jaccardVerified(ov: DataFrame): DataFrame =
    ov.where(lit(5) * col("overlap") >= lit(4) * (col("n_a") + col("n_b") - col("overlap")))
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"), col("n_b"),
        (col("overlap").cast("double") / (col("n_a") + col("n_b") - col("overlap"))).as("jaccard"))

  /** Exact-Jaccard verification of candidate pairs (overlap + j ≥ 0.8
    * threshold in one step) — the common path for one-shot candidate
    * policies (MinHash bands, incremental delta probes).
    */
  private[graft] def verifiedPairs(post: DataFrame, cand: DataFrame): DataFrame =
    jaccardVerified(pairOverlaps(cand, post, post))

  /** The rare-shingle overlap-evidence table as a shared materialized
    * artifact ([[SharedIndex.materialized]], tag `rare_overlaps`):
    * `(doc_a, doc_b, overlap, n_a, n_b)` for every rare-shingle
    * candidate pair, UNTHRESHOLDED. SIX registry carriers consume this
    * one table — the n-gram pair query, both CC labelings (min-label
    * and star-contraction), the corpus sweep's rare arm, and both
    * containment tiers — and each previously re-ran the most expensive
    * join in the dedup family (candidates × postings verify) from the
    * postings up. A production pipeline computes pairwise overlap
    * evidence once per corpus build and lets every policy (Jaccard
    * cut, containment cut, cluster assembly) read it; the per-query
    * thresholds stay in the queries, where they belong. Bench builds
    * this explicitly as its own `pairs_build` metric line, so consumer
    * numbers are warm-artifact and the one-time cost is reported, not
    * hidden. Row count is bounded by the rare-candidate volume
    * (Σ df² over df ≤ 8 shingles) — narrow and small relative to the
    * postings themselves.
    */
  private[graft] def rareOverlaps(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SharedIndex.materialized(s, d, "rare_overlaps") {
      val post = SharedIndex.sidPostings(s, d)
      pairOverlaps(rareShingleCandidates(post), post, post)
    }

  /** SimHash near-dup pairs at a given signature width: `bits`-bit
    * signature from per-shingle multiplicative hashes, bit-majority
    * vote, then `chunks`-way bit-chunk banding + exact hamming filter.
    *
    * Candidate recall: pigeonhole GUARANTEES a shared chunk only for
    * pairs with hamming < `chunks`; between `chunks` and `hammingMax`
    * recall is probabilistic (differing bits must concentrate so no
    * chunk is clean — increasingly unlikely but possible), the
    * standard SimHash-banding trade-off. Raise `chunks` to push the
    * guaranteed radius up at the cost of more candidate rows; the
    * oracle uses the same banding, so engine and oracle agree on
    * exactly which pairs are surfaced.
    *
    * The bit-vote is ONE groupBy(doc_id) with `bits` conditional sums
    * over the hash column directly — not an explode(0..bits-1) (which
    * would amplify the postings `bits`× through the shuffle). One
    * shuffle, fully codegen'd, row volume = postings count.
    */
  private[graft] def simhashPairs(post: DataFrame, bits: Int, chunks: Int, hammingMax: Int): DataFrame = {
    require(bits % chunks == 0 && bits <= 62, s"unsupported simhash layout: $bits bits / $chunks chunks")
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val hashes = post.select(col("doc_id"),
      ((col("sid") * 2654435761L) % (1L << bits)).as("h"))
    // Majority vote as plain bit-sums against the row count: bit b is
    // set iff 2·Σ((h>>b)&1) > n, which equals the ±1-vote sign test
    // (v_b = 2·s_b − n > 0) — but the update expression is a branch-
    // free shift+mask instead of a CASE per row per bit
    // (OPTIMIZATION_r17.md §4: the 60-column vote aggregate drops
    // 0.70 s → 0.41 s; a bit-sliced packed-counter variant was faster
    // still (0.28 s) but caps postings-per-doc at the counter width, a
    // scale hazard, and was rejected). Buffers stay one long per bit — map-side
    // combinable, no per-doc-size ceiling.
    val bitCols = (0 until bits).map(b => sum(expr(s"(h >> $b) & 1")).as(s"s$b"))
    val votes = hashes.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitCols: _*)
    val sim = votes.select(col("doc_id"),
      (0 until bits).map(b =>
          when(col(s"s$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
    val chunked = sim.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk_no"))
      .withColumn("chunk", expr(s"(simhash >> ($chunkBits * chunk_no)) & $mask"))
    val a = chunked.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
      col("chunk_no"), col("chunk"))
    val b = chunked.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("chunk_no").as("chunk_no_b"), col("chunk").as("chunk_b"))
    a.join(b, col("chunk_no") === col("chunk_no_b") && col("chunk") === col("chunk_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= hammingMax)
      .distinct()
  }

  // ----------------------------------------------------------------
  // Oracle-SQL builders — generated from the SAME parameters as the
  // Spark builders, so engine and oracle can't drift.
  // ----------------------------------------------------------------

  private val sidPostingsSql =
    s"""toks AS (
      |  SELECT doc_id, ${tokensSql()} AS tok FROM documents),
      |sh AS (${shinglePostingsSql("toks", 3, as = "shingle")}),
      |dict AS (
      |  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
      |  FROM (SELECT DISTINCT shingle FROM sh)),
      |post AS (SELECT s.doc_id, d2.sid FROM sh s JOIN dict d2 ON s.shingle = d2.shingle)""".stripMargin

  /** `min((A_i*(sid % P) + B_i) % P) AS h_i` lines for a signature
    * SELECT — sid reduced first, mirroring minhashSig's overflow guard.
    */
  private def minhashSigSqlCols(perms: Int, indent: String): String =
    A.zip(B).take(perms).zipWithIndex.map { case ((a, b), i) =>
      s"$indent min((${a} * (sid % ${P}) + ${b}) % ${P}) AS h$i" }.mkString(",\n")

  /** The OR-of-bands join condition over signature columns. */
  private def bandCondSql(perms: Int, bands: Int): String = {
    val rpb = perms / bands
    (0 until bands).map { bnd =>
      (0 until rpb).map(r => s"a.h${rpb * bnd + r} = b.h${rpb * bnd + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
  }

  /** sig → band-candidate CTE chain (names `sig`, `cand`) over `post`
    * — the composable core of the MinHash oracle, reused by the LSH
    * pair query, the edit-distance verifier, and the agreement audit.
    */
  private def minhashCandCtes(perms: Int, bands: Int): String =
    s"""sig AS (
       |  SELECT doc_id,
       |${minhashSigSqlCols(perms, "        ")}
       |  FROM post GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
       |    ${bandCondSql(perms, bands)}))""".stripMargin

  /** Candidates + exact-Jaccard verify, ending in CTE `mhp(doc_a,
    * doc_b, jaccard)` — the full MinHash+LSH pair set in CTE form.
    */
  private def minhashPairCtes(perms: Int, bands: Int): String =
    s"""${minhashCandCtes(perms, bands)},
       |cnt AS (SELECT doc_id, count(*) AS n FROM post GROUP BY doc_id),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS overlap
       |  FROM cand c
       |  JOIN post pa ON pa.doc_id = c.doc_a
       |  JOIN post pb ON pb.doc_id = c.doc_b AND pa.sid = pb.sid
       |  GROUP BY 1, 2),
       |mhp AS (
       |  SELECT v.doc_a, v.doc_b,
       |         CAST(v.overlap AS DOUBLE) / (ca.n + cb.n - v.overlap) AS jaccard
       |  FROM ver v
       |  JOIN cnt ca ON v.doc_a = ca.doc_id
       |  JOIN cnt cb ON v.doc_b = cb.doc_id
       |  WHERE 5 * v.overlap >= 4 * (ca.n + cb.n - v.overlap))""".stripMargin

  /** Full MinHash+LSH pairs oracle at a given config. */
  private def minhashLshSql(perms: Int, bands: Int): String =
    s"""WITH $sidPostingsSql,
       |${minhashPairCtes(perms, bands)}
       |SELECT doc_a, doc_b, jaccard FROM mhp""".stripMargin

  /** SimHash sign-vote → chunk-band → hamming chain, ending in CTE
    * `shp(doc_a, doc_b, hamming)` — the full SimHash pair set in CTE
    * form, composable next to [[minhashPairCtes]].
    */
  private def simhashPairCtes(bits: Int, chunks: Int, hammingMax: Int): String = {
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    s"""hashes AS (
       |  SELECT doc_id, (sid * 2654435761) % ${1L << bits} AS h FROM post),
       |votes AS (
       |  SELECT doc_id,
       |${(0 until bits).map(b =>
           s"         sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
           .mkString(",\n")}
       |  FROM hashes GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id, CAST(
       |${(0 until bits).map(b =>
           s"    (CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)")
           .mkString(" +\n")}
       |  AS BIGINT) AS simhash FROM votes),
       |chunks AS (
       |  SELECT doc_id, simhash, c.c AS chunk_no, (simhash >> ($chunkBits * c.c)) & $mask AS chunk
       |  FROM sim, generate_series(0, ${chunks - 1}) c(c)),
       |shp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_no = b.chunk_no AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $hammingMax)""".stripMargin
  }

  /** Full SimHash pairs oracle at a given config. */
  private def simhashSql(bits: Int, chunks: Int, hammingMax: Int): String =
    s"""WITH $sidPostingsSql,
       |${simhashPairCtes(bits, chunks, hammingMax)}
       |SELECT doc_a, doc_b, hamming FROM shp""".stripMargin

  // ----------------------------------------------------------------
  // Queries
  // ----------------------------------------------------------------

  /** The toks → shingles → rare-candidates → overlap CTE chain shared
    * by the n-gram pair query and the cluster query built on top of it.
    */
  private val ngramPairCtes =
    s"""toks AS (
      |  SELECT doc_id, ${tokensSql()} AS tok FROM documents),
      |sh AS (${shinglePostingsSql("toks", 3, as = "shingle")}),
      |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 8),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN rare r ON a.shingle = r.shingle
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |ver AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS overlap
      |  FROM cand c
      |  JOIN sh pa ON pa.doc_id = c.doc_a
      |  JOIN sh pb ON pb.doc_id = c.doc_b AND pa.shingle = pb.shingle
      |  GROUP BY 1, 2)""".stripMargin

  /** N-gram Jaccard near-dup, two-phase: rare-shingle candidates, then
    * exact overlap/union verified on the FULL shingle sets. Runs on the
    * shared sid index — a dictionary id is a bijection of its shingle,
    * so df counts, overlaps and Jaccard are identical to the string
    * formulation the oracle uses.
    */
  val dedupNgram: QueryDef = QueryDef.sql(
    "x_dedup_ngram",
    s"""WITH $ngramPairCtes
       |SELECT v.doc_a, v.doc_b, v.overlap, ca.n AS n_a, cb.n AS n_b,
       |       CAST(v.overlap AS DOUBLE) / (ca.n + cb.n - v.overlap) AS jaccard
       |FROM ver v
       |JOIN cnt ca ON v.doc_a = ca.doc_id
       |JOIN cnt cb ON v.doc_b = cb.doc_id
       |WHERE 5 * v.overlap >= 4 * (ca.n + cb.n - v.overlap)""".stripMargin) { (s, d) =>
    jaccardVerified(rareOverlaps(s, d))
  }

  /** Near-dup CLUSTER assembly: the near-dup pairs become undirected
    * edges and every document is labeled with its connected component
    * (cluster_id = min doc_id reachable, singletons label themselves)
    * plus the cluster size — the step that turns pairwise similarity
    * into the keep-one-per-group decision a dedup pipeline actually
    * executes (keeper = the doc equal to its cluster_id, mirroring
    * x_dedup_exact's min-id rule, but now closed over TRANSITIVE
    * near-duplicates: a~b, b~c groups all three even when a and c
    * don't pair directly).
    *
    * Spark side: [[graft.operators.ConnectedComponents]] min-label
    * propagation (one join + min-aggregate per round, rounds bounded
    * by component diameter). Oracle: DuckDB recursive CTE computing
    * the reachability closure — an entirely different formulation,
    * hash-matched.
    */
  /** The pairs → edges → recursive closure → min-label CTE chain
    * shared by the cluster query and its representative-selection
    * consumer below.
    */
  private[llm] val clusterCtes: String =
    s"""$ngramPairCtes,
       |pairs AS (
       |  SELECT v.doc_a, v.doc_b
       |  FROM ver v
       |  JOIN cnt ca ON v.doc_a = ca.doc_id
       |  JOIN cnt cb ON v.doc_b = cb.doc_id
       |  WHERE 5 * v.overlap >= 4 * (ca.n + cb.n - v.overlap)),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |lab AS (SELECT doc, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc)""".stripMargin

  private val clustersOracle: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc AS doc_id, cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM lab""".stripMargin

  private def nearDupPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    jaccardVerified(rareOverlaps(s, d)).select("doc_a", "doc_b")

  /** The near-dup CC labeling `(doc_id, cluster_id)` as a shared
    * materialized artifact (built once per JVM × sf-dir via
    * [[SharedIndex.materialized]]). NINE queries consume this one
    * clustering — the cluster dump, both representative selections,
    * the size distribution, both leak-free splits, the ordered-split
    * pipeline, and both quality×dup matrices — and production
    * pipelines publish the labeling exactly once per corpus build, so
    * re-deriving the pair mining + iterative CC inside every consumer
    * was paying the most expensive plan in the registry nine times.
    * The min-label algorithm itself stays independently exercised: by
    * this build, by ConnectedComponentsSpec, and by
    * x_dedup_clusters_lss, which deliberately recomputes the same
    * labeling through the alternating star-contraction algorithm and
    * hash-matches the same oracle.
    */
  private[graft] def ccLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SharedIndex.materialized(s, d, "cc_labels") {
      graft.operators.ConnectedComponents
        .components(Tables.documents(s, d).select("doc_id"), nearDupPairs(s, d))
    }

  val dedupClusters: QueryDef = QueryDef.sql(
    "x_dedup_clusters", clustersOracle) { (s, d) =>
    ccLabels(s, d)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
  }

  /** The same cluster assembly through the alternating
    * large-star/small-star algorithm ([[graft.operators.
    * ConnectedComponents.componentsAlternating]]) — the
    * adversarial-diameter path (polylog rounds vs O(diameter)).
    * Three independent formulations now hash-match on this output:
    * min-label propagation (x_dedup_clusters), star-contraction
    * (this), and the oracle's recursive-CTE closure.
    */
  val dedupClustersLss: QueryDef = QueryDef.sql(
    "x_dedup_clusters_lss", clustersOracle) { (s, d) =>
    graft.operators.ConnectedComponents
      .componentsAlternating(Tables.documents(s, d).select("doc_id"), nearDupPairs(s, d))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
  }

  /** INCREMENTAL cluster-labeling refresh — the operation a daily
    * corpus build actually runs when a delta arrives (here: the
    * doc_id % 10 = 0 slice, the family's delta convention): the
    * published labeling of the existing corpus is NOT recomputed;
    * instead the delta's pairs are contracted onto it through a
    * QUOTIENT graph whose nodes are published cluster labels plus the
    * delta's doc ids. The expensive iterative CC then runs only on
    * that quotient — its size is bounded by the delta's pair fan-out
    * (affected components + delta docs), not the corpus. Because a
    * published label is the min doc_id of its component and delta
    * nodes enter as raw ids, the quotient's min-label IS the
    * full-graph min-label, so the refreshed labeling hash-matches the
    * same recursive-closure oracle as x_dedup_clusters — the FOURTH
    * independent formulation on that oracle (min-label propagation,
    * star contraction, recursive closure, incremental contraction).
    *
    * Pair mining stays corpus-level (the shared [[rareOverlaps]]
    * artifact — candidate df is a corpus property); what is
    * incremental is the LABELING, which is the iterative part. The
    * base labeling is derived here for self-containment (a production
    * refresh reads it); it is the same plan x_dedup_clusters runs,
    * minus the delta.
    */
  /** The PUBLISHED base labeling (CC over the non-delta subgraph) as a
    * shared materialized artifact — in production this is exactly what
    * the refresh READS rather than recomputes, and both refresh
    * consumers (x_cc_incremental, x_cluster_churn) contract onto the
    * same copy. Bench prices it as `cc_base_build`.
    */
  private[graft] def baseLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SharedIndex.materialized(s, d, "cc_labels_base") {
      val docs = Tables.documents(s, d).select("doc_id")
      val pairs = nearDupPairs(s, d)
      graft.operators.ConnectedComponents.components(
        docs.where(!(col("doc_id") % 10 === 0)),
        pairs.where(!(col("doc_a") % 10 === 0) && !(col("doc_b") % 10 === 0)))
    }

  val ccIncremental: QueryDef = QueryDef.sql(
    "x_cc_incremental", clustersOracle) { (s, d) =>
    ccIncrementalFrom(Tables.documents(s, d).select("doc_id"), nearDupPairs(s, d),
      c => c % 10 === 0, baseLabOpt = Some(baseLabels(s, d)))
  }

  /** The incremental-contraction core (docs/pairs/delta-predicate form
    * so the quotient mechanics are unit-testable on constructed
    * graphs — including the case where one delta doc MERGES two
    * published components).
    */
  private[graft] def ccIncrementalFrom(docs: DataFrame, pairs: DataFrame,
      isDelta: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      baseLabOpt: Option[DataFrame] = None): DataFrame =
    ccRefreshFrom(docs, pairs, isDelta, baseLabOpt)._2
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))

  /** The (published base labeling, refreshed full labeling) pair the
    * incremental contraction produces — exposed so the churn diff can
    * consume both sides of the refresh. `baseLabOpt` injects an
    * already-published labeling (the registry passes the shared
    * [[baseLabels]] artifact — a production refresh READS its base);
    * when absent it is derived, the self-contained unit-test path.
    */
  private def ccRefreshFrom(docs: DataFrame, pairs: DataFrame,
      isDelta: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      baseLabOpt: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val basePairs = pairs.where(!isDelta(col("doc_a")) && !isDelta(col("doc_b")))
    val deltaPairs = pairs.where(isDelta(col("doc_a")) || isDelta(col("doc_b")))
      .localCheckpoint(false) // read by the key mapping AND the node set
    val baseLab = baseLabOpt.getOrElse(
      graft.operators.ConnectedComponents
        .components(docs.where(!isDelta(col("doc_id"))), basePairs)
        .localCheckpoint(false)) // published labeling: three consumers below
    // endpoint → super-node key: a base doc contracts to its published
    // label; a delta doc enters as itself
    def key(endpoint: String) =
      coalesce(col(s"lab_$endpoint"), col(endpoint))
    val qEdges = deltaPairs
      .join(baseLab.select(col("doc_id").as("ba"), col("cluster_id").as("lab_doc_a")),
        col("doc_a") === col("ba"), "left")
      .join(baseLab.select(col("doc_id").as("bb"), col("cluster_id").as("lab_doc_b")),
        col("doc_b") === col("bb"), "left")
      .select(key("doc_a").as("doc_a"), key("doc_b").as("doc_b"))
    val qNodes = qEdges.select(col("doc_a").as("doc_id"))
      .unionAll(qEdges.select(col("doc_b").as("doc_id")))
      .unionAll(docs.where(isDelta(col("doc_id"))))
      .distinct()
    val qLab = graft.operators.ConnectedComponents.components(qNodes, qEdges)
      .select(col("doc_id").as("qkey"), col("cluster_id").as("qlab"))
    // refreshed labeling: base docs remap through their label's
    // quotient component (untouched labels pass through); delta docs
    // read the quotient directly (pair-free deltas label themselves)
    val baseOut = baseLab
      .join(qLab, col("cluster_id") === col("qkey"), "left")
      .select(col("doc_id"), coalesce(col("qlab"), col("cluster_id")).as("cluster_id"))
    val deltaOut = docs.where(isDelta(col("doc_id")))
      .join(qLab, col("doc_id") === col("qkey"), "left")
      .select(col("doc_id"), coalesce(col("qlab"), col("doc_id")).as("cluster_id"))
    (baseLab, baseOut.unionAll(deltaOut))
  }

  /** Cluster-membership CHURN across the incremental refresh — the
    * diff table a daily build publishes beside the new labeling so
    * downstream consumers (split assignments, cluster reps, sampling
    * weights) know exactly which documents to re-evaluate. One row per
    * affected doc: delta docs are `new` (old_cluster NULL — they had
    * no published label); base docs appear only when the delta's
    * contraction MOVED their component (`moved`, old and new labels
    * both carried). Unchanged docs are absent — churn volume is
    * bounded by the delta's fan-out, which is the whole point of the
    * incremental path.
    *
    * Oracle: two independent recursive closures (full graph vs the
    * base-only edge restriction) diffed — the engine's contraction
    * never appears in the oracle's formulation.
    */
  val clusterChurn: QueryDef = QueryDef.sql(
    "x_cluster_churn",
    s"""WITH RECURSIVE $clusterCtes,
       |edges_b AS (
       |  SELECT a, b FROM edges WHERE a % 10 != 0 AND b % 10 != 0),
       |reach_b(doc, r) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 != 0
       |  UNION
       |  SELECT reach_b.doc, e.b FROM reach_b JOIN edges_b e ON reach_b.r = e.a),
       |lab_b AS (SELECT doc, CAST(min(r) AS BIGINT) AS old_cluster FROM reach_b GROUP BY doc)
       |SELECT l.doc AS doc_id, b.old_cluster, l.cluster_id AS new_cluster,
       |       CASE WHEN b.old_cluster IS NULL THEN 'new' ELSE 'moved' END AS status
       |FROM lab l LEFT JOIN lab_b b ON l.doc = b.doc
       |WHERE b.old_cluster IS NULL OR b.old_cluster != l.cluster_id""".stripMargin) { (s, d) =>
    clusterChurnFrom(Tables.documents(s, d).select("doc_id"), nearDupPairs(s, d),
      c => c % 10 === 0, baseLabOpt = Some(baseLabels(s, d)))
  }

  private[graft] def clusterChurnFrom(docs: DataFrame, pairs: DataFrame,
      isDelta: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      baseLabOpt: Option[DataFrame] = None): DataFrame = {
    val (baseLab, refreshed) = ccRefreshFrom(docs, pairs, isDelta, baseLabOpt)
    refreshed
      .join(baseLab.select(col("doc_id").as("bid"), col("cluster_id").as("old_cluster")),
        col("doc_id") === col("bid"), "left")
      .where(col("old_cluster").isNull || col("old_cluster") =!= col("cluster_id"))
      .select(col("doc_id"), col("old_cluster"), col("cluster_id").as("new_cluster"),
        when(col("old_cluster").isNull, "new").otherwise("moved").as("status"))
  }

  /** Best-representative selection per near-dup cluster — the cluster
    * labeling CONSUMED by the decision production dedup actually
    * ships: instead of the min-id keeper, each cluster keeps its
    * highest-scoring member (score desc, doc_id asc — a total order).
    * `x_cluster_rep` scores by the textStats quality signal
    * (distinct-word ratio damped by stopword ratio, zero-token docs
    * coalesced to 0); `x_cluster_rep_len` scores by token count —
    * the keep-longest rule, the other canonicalization convention.
    * Every doc is emitted with its cluster, score, and kept flag, so
    * the survivor set AND the dropped-duplicate audit come from one
    * pass.
    *
    * Scale shape: the cluster labeling is the already-adjudicated CC
    * iteration; scoring is per-row; selection is a rank-1 window
    * keyed by cluster_id (WindowGroupLimit prunes before the final
    * shuffle). No new join class beyond the 1:1 doc_id score attach.
    */
  private def clusterRepSql(scoreSel: String, scoreName: String): String =
    s"""WITH RECURSIVE $clusterCtes,
       |q AS (
       |  SELECT doc_id, $scoreSel AS $scoreName FROM toks)
       |SELECT l.doc AS doc_id, l.cluster_id, q.$scoreName,
       |       CAST(CASE WHEN row_number() OVER (PARTITION BY l.cluster_id
       |              ORDER BY q.$scoreName DESC, l.doc) = 1
       |            THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM lab l JOIN q ON l.doc = q.doc_id""".stripMargin

  private[graft] def clusterRepOf(docs: DataFrame, pairs: DataFrame,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      scoreName: String): DataFrame =
    clusterRepFromLabels(docs,
      graft.operators.ConnectedComponents.components(docs.select("doc_id"), pairs),
      score, scoreName)

  private def clusterRepFromLabels(docs: DataFrame, clusters: DataFrame,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      scoreName: String): DataFrame = {
    val scored = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tok"))
      .select(col("doc_id"), score(col("tok")).as(scoreName))
    clusters.join(scored, "doc_id")
      .withColumn("kept",
        when(row_number().over(Window.partitionBy("cluster_id")
          .orderBy(col(scoreName).desc, col("doc_id"))) === 1, 1L).otherwise(0L))
  }

  private def clusterRepDf(s: org.apache.spark.sql.SparkSession, d: String,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      scoreName: String): DataFrame =
    clusterRepFromLabels(Tables.documents(s, d), ccLabels(s, d), score, scoreName)

  private[graft] def qualityScore(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      (size(array_distinct(tok)).cast("double") / nullif(size(tok), lit(0))) *
        (lit(1) - size(filter(tok, x => x.isin("the", "a"))).cast("double") /
          nullif(size(tok), lit(0))),
      lit(0.0))

  private val qualityScoreSql: String =
    """coalesce((CAST(len(list_distinct(tok)) AS DOUBLE) / nullif(len(tok), 0)) *
      |           (1 - CAST(len(list_filter(tok, x -> x IN ('the', 'a'))) AS DOUBLE) /
      |             nullif(len(tok), 0)), 0.0)""".stripMargin

  val clusterRep: QueryDef = QueryDef.sql(
    "x_cluster_rep", clusterRepSql(qualityScoreSql, "quality")) { (s, d) =>
    clusterRepDf(s, d, qualityScore, "quality")
  }

  val clusterRepLen: QueryDef = QueryDef.sql(
    "x_cluster_rep_len",
    clusterRepSql("CAST(len(tok) AS BIGINT)", "n_tokens")) { (s, d) =>
    clusterRepDf(s, d, tok => size(tok).cast("long"), "n_tokens")
  }

  /** MinHash signatures: 8 modular permutations over dictionary ids,
    * min per doc. Exact integers → engine-reproducible.
    */
  val minhashSignature: QueryDef = QueryDef.sql(
    "x_minhash_signature",
    s"""WITH $sidPostingsSql
       |SELECT doc_id,
       |${minhashSigSqlCols(8, "      ")}
       |FROM post GROUP BY doc_id""".stripMargin) { (s, d) =>
    minhashSig(SharedIndex.sidPostings(s, d), "doc_id", 8)
  }

  /** MinHash+LSH near-dup pairs, default config: 4 bands × 2 rows;
    * candidates share a band bucket; candidates are then verified with
    * the exact Jaccard (same inverted-index formulation as
    * x_dedup_ngram), j ≥ 0.8. The band join is what makes this
    * sub-quadratic at scale.
    */
  val minhashLshPairs: QueryDef = QueryDef.sql(
    "x_minhash_lsh_pairs", minhashLshSql(perms = 8, bands = 4)) { (s, d) =>
    val post = SharedIndex.sidPostings(s, d)
    verifiedPairs(post, bandCandidates(post, perms = 8, bands = 4))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash, default config: 60-bit signature, 15-bit chunk banding
    * (4 chunks), hamming ≤ 10 (bit_count of xor — exact ints).
    */
  val dedupSimhash: QueryDef = QueryDef.sql(
    "x_dedup_simhash", simhashSql(bits = 60, chunks = 4, hammingMax = 10)) { (s, d) =>
    simhashPairs(SharedIndex.sidPostings(s, d), bits = 60, chunks = 4, hammingMax = 10)
  }

  /** SimHash at a non-default width: 48-bit signature in 6 × 8-bit
    * chunks, hamming ≤ 8. More, narrower chunks = higher candidate
    * recall per pigeonhole at the cost of more (band, chunk) rows —
    * the tradeoff you re-balance as the corpus grows.
    */
  val dedupSimhashB48: QueryDef = QueryDef.sql(
    "x_dedup_simhash_b48", simhashSql(bits = 48, chunks = 6, hammingMax = 8)) { (s, d) =>
    simhashPairs(SharedIndex.sidPostings(s, d), bits = 48, chunks = 6, hammingMax = 8)
  }

  /** End-to-end corpus dedup — the operation an LLM data pipeline
    * actually runs: keep each document unless (a) it is an exact
    * duplicate of a lower-id document (md5 of normalized text), or
    * (b) it is the higher-id member of a verified near-dup pair
    * (3-gram Jaccard ≥ 0.8). Candidates come from BOTH generators —
    * rare-shingle ∪ MinHash-band — so pairs whose shared shingles are
    * all common (invisible to the rare filter) are still caught by
    * banding; both feed one exact-Jaccard verification over the shared
    * index. Greedy lower-id-wins survivorship.
    */
  val dedupCorpus: QueryDef = QueryDef.sql(
    "x_dedup_corpus",
    s"""WITH f AS (
       |  SELECT doc_id, $exactFpSql AS fp
       |  FROM documents),
       |exact_drop AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f)
       |  WHERE doc_id != keeper),
       |$sidPostingsSql,
       |rare AS (SELECT sid FROM post GROUP BY sid HAVING count(*) <= 8),
       |cand_ngram AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM post a JOIN rare r ON a.sid = r.sid
       |  JOIN post b ON a.sid = b.sid AND a.doc_id < b.doc_id),
       |sig AS (
       |  SELECT doc_id,
       |${minhashSigSqlCols(8, "        ")}
       |  FROM post GROUP BY doc_id),
       |cand_band AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
       |    ${bandCondSql(perms = 8, bands = 4)})),
       |cand AS (
       |  SELECT doc_a, doc_b FROM cand_ngram
       |  UNION
       |  SELECT doc_a, doc_b FROM cand_band),
       |cnt AS (SELECT doc_id, count(*) AS n FROM post GROUP BY doc_id),
       |near_drop AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM cand c
       |  JOIN post pa ON pa.doc_id = c.doc_a
       |  JOIN post pb ON pb.doc_id = c.doc_b AND pa.sid = pb.sid
       |  JOIN cnt ca ON c.doc_a = ca.doc_id
       |  JOIN cnt cb ON c.doc_b = cb.doc_id
       |  GROUP BY c.doc_a, c.doc_b, ca.n, cb.n
       |  HAVING 5 * count(*) >= 4 * (ca.n + cb.n - count(*)))
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM exact_drop)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM near_drop)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // (a) exact-dup members that are not the group keeper
    val f = docs.select(col("doc_id"), exactFp(col("text")).as("fp"))
    val exactDrop = f
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id").as("drop_id"))
    // (b) higher-id members of verified near-dup pairs — the rare arm
    // reads the shared overlap artifact; the band arm verifies its own
    // candidates over the shared index. Verification is per-pair
    // deterministic, so verify(rare ∪ band) ≡ verify(rare) ∪
    // verify(band) as sets, and only distinct drop ids survive anyway.
    val post = SharedIndex.sidPostings(s, d)
    val nearDrop = jaccardVerified(rareOverlaps(s, d)).select(col("doc_b"))
      .unionAll(verifiedPairs(post, bandCandidates(post, perms = 8, bands = 4))
        .select(col("doc_b")))
      .select(col("doc_b").as("drop_id")).distinct()
    val drops = exactDrop.unionAll(nearDrop).distinct()
    docs.join(drops, docs("doc_id") === drops("drop_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Incremental (delta-vs-corpus) near-dup: which docs of an
    * arriving batch (here: doc_id % 10 = 0) duplicate the EXISTING
    * corpus — the shape a daily-ingest pipeline runs, where you never
    * re-pair the whole corpus, only delta × corpus. Candidates form
    * on rare shingles with the DELTA on the probe side, so candidate
    * volume is bounded by |delta| × df, not corpus²; verification is
    * the same exact-Jaccard as the batch family (j ≥ 0.8).
    */
  val dedupIncremental: QueryDef = QueryDef.sql(
    "x_dedup_incremental",
    s"""WITH $sidPostingsSql,
       |rare AS (SELECT sid FROM post GROUP BY sid HAVING count(*) <= 8),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM post a JOIN rare r ON a.sid = r.sid
       |  JOIN post b ON a.sid = b.sid
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
       |cnt AS (SELECT doc_id, count(*) AS n FROM post GROUP BY doc_id),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS overlap
       |  FROM cand c
       |  JOIN post pa ON pa.doc_id = c.doc_a
       |  JOIN post pb ON pb.doc_id = c.doc_b AND pa.sid = pb.sid
       |  GROUP BY 1, 2)
       |SELECT v.doc_a AS doc_new, v.doc_b AS doc_old,
       |       CAST(v.overlap AS DOUBLE) / (ca.n + cb.n - v.overlap) AS jaccard
       |FROM ver v
       |JOIN cnt ca ON v.doc_a = ca.doc_id
       |JOIN cnt cb ON v.doc_b = cb.doc_id
       |WHERE 5 * v.overlap >= 4 * (ca.n + cb.n - v.overlap)""".stripMargin) { (s, d) =>
    val post = SharedIndex.sidPostings(s, d)
    // postings PRE-SPLIT by the delta predicate, so fewer bytes
    // shuffle: every candidate's doc_a is a delta doc and every
    // doc_b a corpus doc, so the overlap join probes only the delta
    // slice on the a side and the corpus slice on the b side, and a
    // doc's count over its own slice equals its count over the corpus
    val delta = post.where(col("doc_id") % 10 === 0)
    val corpus = post.where(col("doc_id") % 10 =!= 0)
    val cand = delta.join(rareSids(post), "sid").select(col("doc_id").as("doc_a"), col("sid"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("sid").as("sid_r")),
        col("sid") === col("sid_r"))
      .select("doc_a", "doc_b").distinct()
    jaccardVerified(pairOverlaps(cand, delta, corpus))
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"), col("jaccard"))
  }

  /** Passage-level exact dedup — dedup at CHUNK granularity rather
    * than document granularity: split every document into fixed
    * non-overlapping token windows (reusing the x_doc_chunks chunker
    * at overlap 0), keep only the FIRST occurrence of each distinct
    * passage corpus-wide (first = min (doc_id, chunk_id)), and rebuild
    * each document from its surviving passages. Catches the
    * boilerplate/recycled-paragraph duplication that document-level
    * exact dedup misses and exact-substring cut over-penalizes (the
    * cut drops ALL copies; passage dedup retains one).
    *
    * Scale shape: one shuffle keyed by passage text (at 100 TB the key
    * would be a 128-bit content hash so only digests travel — same
    * plan shape), `row_number() = 1` as the keep-first rule (compiles
    * to the same WindowGroupLimit top-k as x_ngram_topk — no second
    * scan, no join), then a per-doc reassembly agg bounded by document
    * length. No doc×doc term anywhere.
    */
  def passageDedupOf(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val ch = CurationQueries.chunkDf(docs, chunkTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    val kept = ch
      .withColumn("rn", row_number().over(
        Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")))
      .where(col("rn") === 1)
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => s.getField("chunk_text")), " ").as("clean_text"))
    ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  private def passageDedupSql(chunkTokens: Int): String = {
    val c = chunkTokens
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql()} AS toks,
       |         CAST(len(${tokensSql()}) AS BIGINT) AS n
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, toks, n,
       |         ${CurationQueries.chunkCountSql(c, overlap = 0)}
       |  FROM t),
       |ch AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |         array_to_string(list_slice(toks, k * $c + 1, k * $c + $c), ' ') AS chunk_text
       |  FROM (SELECT doc_id, toks, unnest(generate_series(0, max_k)) AS k FROM k)),
       |kept AS (
       |  SELECT doc_id, chunk_id, chunk_text FROM ch
       |  QUALIFY row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) = 1),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text
       |  FROM kept GROUP BY 1),
       |nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY 1)
       |SELECT doc_id, n_chunks,
       |       coalesce(n_kept, 0) AS n_kept,
       |       coalesce(clean_text, '') AS clean_text
       |FROM nc LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  val passageDedup: QueryDef = QueryDef.sql(
    "x_passage_dedup", passageDedupSql(chunkTokens = 16)) { (s, d) =>
    passageDedupOf(Tables.documents(s, d), chunkTokens = 16)
  }

  /** Coarser passages (24 tokens): fewer, longer windows — the
    * conservative config that only drops whole recycled paragraphs;
    * same parameterized builder and oracle on both sides.
    */
  val passageDedupC24: QueryDef = QueryDef.sql(
    "x_passage_dedup_c24", passageDedupSql(chunkTokens = 24)) { (s, d) =>
    passageDedupOf(Tables.documents(s, d), chunkTokens = 24)
  }

  /** Per-document duplication profile: what FRACTION of a document's
    * distinct shingles appear in at least `minDf` documents corpus-wide
    * — the doc-level "how much of this text is recycled" score used to
    * rank documents for removal (or down-weighting) before any pair
    * enumeration. Score is exact-integer (`n_shared·10⁶ div
    * n_shingles`), so ranking is bit-stable across engines.
    *
    * Scale shape: one df aggregation over the shared postings index,
    * a 1:1 join back (each posting row meets exactly one df row), and
    * a per-doc count — no pairs at all, the cheapest member of the
    * dedup family and the one you run FIRST at 100 TB to size the
    * problem before paying for pair mining.
    */
  def dupProfileOf(s: org.apache.spark.sql.SparkSession, d: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"degenerate dup-profile config (minDf=$minDf)")
    val post = SharedIndex.sidPostings(s, d)
    val dfs = post.groupBy("sid").agg(count(lit(1)).as("df"))
    val per = post.join(dfs, "sid").groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_shared"))
    Tables.documents(s, d).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_frac_q",
        when(col("n_shingles") === 0, lit(0L))
          .otherwise(expr("n_shared * 1000000 div n_shingles")))
  }

  private def dupProfileSql(minDf: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql()} AS tok FROM documents),
       |sh AS (${shinglePostingsSql("toks", 3, as = "shingle")}),
       |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |per AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |         CAST(sum(CASE WHEN f.df >= $minDf THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM sh s JOIN dfs f ON s.shingle = f.shingle GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(p.n_shingles, 0) AS n_shingles,
       |       coalesce(p.n_shared, 0) AS n_shared,
       |       CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0
       |            ELSE coalesce(p.n_shared, 0) * 1000000 // p.n_shingles END AS dup_frac_q
       |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin

  val dupProfile: QueryDef = QueryDef.sql(
    "x_dup_profile", dupProfileSql(minDf = 2)) { (s, d) =>
    dupProfileOf(s, d, minDf = 2)
  }

  /** Stricter bar (a shingle counts as recycled only when it appears
    * in ≥ 4 documents): scores boilerplate that is WIDELY shared, not
    * merely duplicated once; same parameterized builder and oracle.
    */
  val dupProfileD4: QueryDef = QueryDef.sql(
    "x_dup_profile_d4", dupProfileSql(minDf = 4)) { (s, d) =>
    dupProfileOf(s, d, minDf = 4)
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct passages (fixed `chunkTokens`-token windows, the
    * x_passage_dedup chunker) appear in BOTH — the inter-source
    * contamination/recycling report a corpus owner runs before
    * weighting sources in a training mix (a source that is largely a
    * re-crawl of another should not count twice).
    *
    * Scale shape: chunks collapse to DISTINCT (source, chunk) pairs
    * first (one doc-keyed explode + a distinct keyed by chunk
    * content), so the content join's per-chunk fan-out is bounded by
    * the number of SOURCES sharing the chunk — |sources|² worst case
    * per chunk, and the source set is config-bounded, not data-sized.
    * At 100 TB the chunk key would be a 128-bit digest so only
    * digests travel — same plan shape. No doc×doc term anywhere.
    */
  def crossSourceOverlapOf(docs: DataFrame, chunkTokens: Int): DataFrame = {
    // a token-less doc still emits one k=0 chunk with chunk_text '';
    // without the filter, two sources each holding such a doc would
    // report a spurious shared "passage"
    val ch = CurationQueries.chunkDf(docs, chunkTokens, overlap = 0)
      .where(col("chunk_text") =!= "")
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("source"), col("chunk_text")).distinct()
    ch.join(ch.select(col("source").as("source_b"), col("chunk_text")),
        Seq("chunk_text"))
      .where(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("source_a").as("source_a"), col("source_b"), col("n_shared"))
  }

  private def crossSourceOverlapSql(chunkTokens: Int): String = {
    val c = chunkTokens
    s"""WITH t AS (
       |  SELECT doc_id, source, ${tokensSql()} AS toks,
       |         CAST(len(${tokensSql()}) AS BIGINT) AS n
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, source, toks, n,
       |         ${CurationQueries.chunkCountSql(c, overlap = 0)}
       |  FROM t),
       |ch AS (
       |  SELECT DISTINCT source, array_to_string(list_slice(toks, k * $c + 1, k * $c + $c), ' ') AS chunk_text
       |  FROM (SELECT doc_id, source, toks, unnest(generate_series(0, max_k)) AS k FROM k)
       |  WHERE array_to_string(list_slice(toks, k * $c + 1, k * $c + $c), ' ') <> '')
       |SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM ch a JOIN ch b ON a.chunk_text = b.chunk_text AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin
  }

  val crossSourceOverlap: QueryDef = QueryDef.sql(
    "x_cross_source_overlap", crossSourceOverlapSql(chunkTokens = 16)) { (s, d) =>
    crossSourceOverlapOf(Tables.documents(s, d), chunkTokens = 16)
  }

  /** Coarser passages (24 tokens) — only whole recycled paragraphs
    * count as shared; same parameterized builder and oracle.
    */
  val crossSourceOverlapC24: QueryDef = QueryDef.sql(
    "x_cross_source_overlap_c24", crossSourceOverlapSql(chunkTokens = 24)) { (s, d) =>
    crossSourceOverlapOf(Tables.documents(s, d), chunkTokens = 24)
  }

  /** ASYMMETRIC containment detection — the quote-expansion case
    * symmetric Jaccard structurally misses: a short document wholly
    * quoted inside a much longer one has Jaccard ≈ |A|/|B| (tiny) but
    * containment |A∩B|/|A| = 1. The directed cut over an
    * overlap-evidence table: both directions of each unordered
    * candidate pair (doc_inner contained-in doc_outer), kept when
    * den·overlap ≥ num·n_inner (cross-multiplied exact integers; the
    * containment column is the one evidence division). Registry
    * carriers read the shared [[rareOverlaps]] artifact — the
    * family's rare-shingle (df ≤ 8) candidate discipline, so a pair
    * sharing ONLY ubiquitous shingles is out of candidate scope on
    * both engines — and the threshold is the only per-query work.
    */
  private[graft] def containmentFromOverlaps(ov: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"containment threshold must be in (0, 1]: $num/$den")
    val ab = ov.select(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
      col("overlap"), col("n_a").as("n_inner"), col("n_b").as("n_outer"))
    val ba = ov.select(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
      col("overlap"), col("n_b").as("n_inner"), col("n_a").as("n_outer"))
    ab.unionByName(ba)
      .where(lit(den.toLong) * col("overlap") >= lit(num.toLong) * col("n_inner"))
      .select(col("doc_inner"), col("doc_outer"), col("overlap"),
        col("n_inner"), col("n_outer"),
        (col("overlap").cast("double") / col("n_inner")).as("containment"))
  }

  private def containmentSql(num: Int, den: Int): String =
    s"""WITH $ngramPairCtes,
       |full_p AS (
       |  SELECT v.doc_a, v.doc_b, v.overlap, ca.n AS n_a, cb.n AS n_b
       |  FROM ver v
       |  JOIN cnt ca ON v.doc_a = ca.doc_id
       |  JOIN cnt cb ON v.doc_b = cb.doc_id),
       |dirs AS (
       |  SELECT doc_a AS doc_inner, doc_b AS doc_outer, overlap,
       |         n_a AS n_inner, n_b AS n_outer FROM full_p
       |  UNION ALL
       |  SELECT doc_b, doc_a, overlap, n_b, n_a FROM full_p)
       |SELECT doc_inner, doc_outer, overlap, n_inner, n_outer,
       |       CAST(overlap AS DOUBLE) / n_inner AS containment
       |FROM dirs WHERE $den * overlap >= $num * n_inner""".stripMargin

  val containment: QueryDef = QueryDef.sql(
    "x_containment", containmentSql(num = 9, den = 10)) { (s, d) =>
    containmentFromOverlaps(rareOverlaps(s, d), num = 9, den = 10)
  }

  // ----------------------------------------------------------------
  // Edit-distance fuzzy dedup: LSH candidates → exact Levenshtein
  // verify on the normalized text, with length-band pruning.
  // ----------------------------------------------------------------

  /** The whitespace-normalized text + its length — the comparison
    * units of the edit-distance verifier.
    */
  private val normTextCtes =
    s"""nrm AS (
      |  SELECT doc_id, $normTextSql AS norm_text
      |  FROM documents),
      |nl AS (SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS len FROM nrm)""".stripMargin

  /** Edit-distance near-dup pairs: MinHash band candidates, length-band
    * prune, then EXACT character-level Levenshtein ≤ max(len)/relDen
    * (cross-multiplied integer test, no float ratio) with a hard cap
    * `cap` on the distance itself.
    *
    * Shingle Jaccard misses same-length character-level edits (every
    * 3-shingle touching an edited token changes); edit distance is the
    * character-granular near-dup criterion. The quadratic DP never
    * runs on the corpus: candidates come from the band index, the
    * length prune (|len_a−len_b| ≤ threshold is a lower bound on the
    * distance) kills mismatched pairs before any DP, and the Spark
    * side uses the THRESHOLDED `levenshtein(l, r, cap)` kernel — cost
    * O(len·cap) per surviving candidate, not O(len²); `cap` is the
    * advertised per-pair cost bound at 100 TB, and pairs beyond it are
    * by definition not near-duplicates.
    */
  private def editPairsDf(s: org.apache.spark.sql.SparkSession, d: String,
      relDen: Int, cap: Int): DataFrame = {
    require(relDen >= 2 && cap >= 1, s"degenerate edit-dedup config ($relDen, $cap)")
    val post = SharedIndex.sidPostings(s, d)
    val cand = bandCandidates(post, perms = 8, bands = 4)
    val norm = Tables.documents(s, d).select(col("doc_id"),
        normText(col("text")).as("norm_text"))
      .withColumn("len", length(col("norm_text")).cast("long"))
    cand
      .join(norm.select(col("doc_id").as("na_id"), col("norm_text").as("norm_a"),
        col("len").as("len_a")), col("doc_a") === col("na_id"))
      .join(norm.select(col("doc_id").as("nb_id"), col("norm_text").as("norm_b"),
        col("len").as("len_b")), col("doc_b") === col("nb_id"))
      .where(lit(relDen) * abs(col("len_a") - col("len_b")) <=
        greatest(col("len_a"), col("len_b")))
      .withColumn("dist", levenshtein(col("norm_a"), col("norm_b"), cap).cast("long"))
      .where(col("dist") >= 0 &&
        lit(relDen) * col("dist") <= greatest(col("len_a"), col("len_b")))
      .select(col("doc_a"), col("doc_b"), col("dist"), col("len_a"), col("len_b"))
  }

  private def editDedupSql(relDen: Int, cap: Int): String =
    s"""WITH $sidPostingsSql,
       |${minhashCandCtes(8, 4)},
       |$normTextCtes
       |SELECT c.doc_a, c.doc_b,
       |       CAST(levenshtein(a.norm_text, b.norm_text) AS BIGINT) AS dist,
       |       a.len AS len_a, b.len AS len_b
       |FROM cand c
       |JOIN nl a ON c.doc_a = a.doc_id
       |JOIN nl b ON c.doc_b = b.doc_id
       |WHERE $relDen * abs(a.len - b.len) <= greatest(a.len, b.len)
       |  AND levenshtein(a.norm_text, b.norm_text) <= $cap
       |  AND $relDen * levenshtein(a.norm_text, b.norm_text) <= greatest(a.len, b.len)""".stripMargin

  val editDedup: QueryDef = QueryDef.sql(
    "x_edit_dedup", editDedupSql(relDen = 10, cap = 60)) { (s, d) =>
    editPairsDf(s, d, relDen = 10, cap = 60)
  }

  /** The tighter 5%-of-length / cap-30 config — pins that both the
    * relative denominator and the DP cost cap are real parameters.
    */
  val editDedupD20: QueryDef = QueryDef.sql(
    "x_edit_dedup_d20", editDedupSql(relDen = 20, cap = 30)) { (s, d) =>
    editPairsDf(s, d, relDen = 20, cap = 30)
  }

  /** Method-agreement audit: the MinHash+LSH verified pair set vs the
    * SimHash pair set (both at their default production configs) as a
    * confusion summary — pairs found by both, by MinHash only, by
    * SimHash only, with the distinct documents each class touches.
    * The calibration evidence for choosing/combining the two methods:
    * at 100 TB you run this on a sampled slice before committing the
    * full corpus to one method's candidate bill. Output is ≤3 rows;
    * both pair sets are the already-adjudicated candidate-bounded
    * formulations, and the overlay is one full-outer equi-join on the
    * pair key.
    */
  private val agreementSql: String =
    s"""WITH $sidPostingsSql,
       |${minhashPairCtes(8, 4)},
       |${simhashPairCtes(60, 4, 10)},
       |merged AS (
       |  SELECT CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
       |              WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
       |              ELSE 'simhash_only' END AS method,
       |         coalesce(m.doc_a, s.doc_a) AS doc_a,
       |         coalesce(m.doc_b, s.doc_b) AS doc_b
       |  FROM mhp m FULL OUTER JOIN shp s ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b),
       |md AS (SELECT method, doc_a AS doc FROM merged
       |       UNION ALL SELECT method, doc_b FROM merged)
       |SELECT p.method, p.n_pairs, d.n_docs
       |FROM (SELECT method, CAST(count(*) AS BIGINT) AS n_pairs
       |      FROM merged GROUP BY method) p
       |JOIN (SELECT method, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
       |      FROM md GROUP BY method) d
       |  ON p.method = d.method""".stripMargin

  val dedupAgreement: QueryDef = QueryDef.sql(
    "x_dedup_agreement", agreementSql) { (s, d) =>
    val post = SharedIndex.sidPostings(s, d)
    pairSetOverlay(
      verifiedPairs(post, bandCandidates(post, perms = 8, bands = 4)),
      simhashPairs(post, bits = 60, chunks = 4, hammingMax = 10),
      onlyA = "minhash_only", onlyB = "simhash_only")
  }

  /** Confusion summary of two `(doc_a, doc_b)` pair sets as
    * `(method, n_pairs, n_docs)`: pairs in both, `onlyA` pairs, `onlyB`
    * pairs, and the distinct documents each class touches — one
    * full-outer equi-join on the pair key.
    */
  private def pairSetOverlay(a: DataFrame, b: DataFrame, onlyA: String, onlyB: String): DataFrame = {
    // pinned (lazy localCheckpoint): the n_pairs and n_docs branches
    // both read `merged`, and without the pin each branch re-derives
    // BOTH full pair chains from the postings — the audit's entire
    // cost, twice (OPTIMIZATION_r17.md §3: MinHash 0.66 s + SimHash
    // 1.10 s, full x_dedup_agreement 2.21 s). The pinned frame is
    // ≤ |pairs| narrow rows.
    val merged = a.select("doc_a", "doc_b")
      .join(b.select(col("doc_a").as("s_a"), col("doc_b").as("s_b")),
        col("doc_a") === col("s_a") && col("doc_b") === col("s_b"), "full_outer")
      .select(
        when(col("doc_a").isNotNull && col("s_a").isNotNull, "both")
          .when(col("doc_a").isNotNull, onlyA)
          .otherwise(onlyB).as("method"),
        coalesce(col("doc_a"), col("s_a")).as("da"),
        coalesce(col("doc_b"), col("s_b")).as("db"))
      .localCheckpoint(false)
    val pairs = merged.groupBy("method").agg(count(lit(1)).as("n_pairs"))
    val docs = merged.select(col("method"), col("da").as("doc"))
      .unionAll(merged.select(col("method"), col("db").as("doc")))
      .groupBy("method").agg(countDistinct("doc").as("n_docs"))
    pairs.join(docs, "method")
  }

  /** Duplicate-cluster size distribution: how many near-dup clusters
    * exist at each size, and how many documents they hold — the
    * standard dedup-yield figure (docs removed = n_docs − n_clusters
    * summed over sizes ≥ 2) that sizes the dedup payoff BEFORE
    * committing to a removal pass. Consumer of the CC labeling;
    * output is bounded by the number of distinct cluster sizes.
    */
  val clusterSizes: QueryDef = QueryDef.sql(
    "x_cluster_sizes",
    s"""WITH RECURSIVE $clusterCtes,
       |sizes AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM lab GROUP BY cluster_id)
       |SELECT cluster_size,
       |       CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY cluster_size""".stripMargin) { (s, d) =>
    ccLabels(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** Duplicate-aware sampling weights — SOFT dedup: instead of
    * dropping near-duplicates, every document gets the exact quantized
    * weight 10⁶ div cluster_size, so each near-dup FAMILY contributes
    * one document's worth of sampling mass no matter how many copies
    * were crawled (the duplicate-downweighting convention several
    * corpus-construction pipelines prefer over hard removal, since a
    * popular page's many copies are weak evidence of quality, not
    * zero). `eff_tokens_q` re-weights the doc's token count the same
    * way, so Σ eff_tokens_q / 10⁶ is the corpus's EFFECTIVE token mass
    * after duplication discounting — the number a data-mixing budget
    * should use instead of raw token counts.
    *
    * The capped config divides by min(cluster_size, cap): a weight
    * FLOOR of 10⁶/cap, the "count each family at most cap× down"
    * compromise that keeps mega-cluster content from vanishing
    * entirely (cap → ∞ recovers the pure 1/n rule; cap = 1 recovers
    * no-dedup). All arithmetic is exact BIGINT division.
    *
    * Scale shape: the labeling is the shared materialized CC
    * artifact; size attach is one cluster-keyed window; the token
    * counts are a per-row scan joined 1:1 on doc_id. No new join
    * class.
    */
  private def dupWeightsSql(cap: Option[Long]): String = {
    val den = cap.map(c => s"least(s.cluster_size, $c)").getOrElse("s.cluster_size")
    s"""WITH RECURSIVE $clusterCtes,
       |sz AS (
       |  SELECT doc, cluster_id,
       |         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |  FROM lab),
       |nt AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_toks FROM toks)
       |SELECT s.doc AS doc_id, s.cluster_id, s.cluster_size, nt.n_toks,
       |       CAST(1000000 // $den AS BIGINT) AS weight_q,
       |       CAST(nt.n_toks * 1000000 // $den AS BIGINT) AS eff_tokens_q
       |FROM sz s JOIN nt ON nt.doc_id = s.doc""".stripMargin
  }

  private def dupWeightsDf(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Option[Long]): DataFrame = {
    val den = cap.map(c => s"least(cluster_size, $c)").getOrElse("cluster_size")
    val sz = ccLabels(s, d).withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
    val nt = Tables.documents(s, d).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
    sz.join(nt, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("n_toks"),
        expr(s"1000000 div $den").as("weight_q"),
        expr(s"n_toks * 1000000 div $den").as("eff_tokens_q"))
  }

  /** Cross-source mirror detection: identical content appearing under
    * MORE THAN ONE source — the mirror-site/syndication signature a
    * crawl audit reads before negotiating source dedup order (exact
    * duplication WITHIN a source is recycling; across sources it means
    * the acquisition list itself overlaps). Per content group spanning
    * ≥ 2 sources: doc count, source count, the sorted source list, and
    * the min doc_id as the stable group representative.
    *
    * The default config matches on whitespace-normalized text (the
    * exact-dedup normalization — mirrors often differ only in
    * formatting); the `_raw` config on the raw bytes, pinning the
    * normalization as a real parameter (raw groups ⊆ normalized
    * groups).
    *
    * Scale shape: one content-hash-keyed shuffle (map-side combinable
    * count + min; the distinct-source set is bounded by the source
    * catalog), then a group-local filter. The same cost class as
    * exact dedup itself.
    */
  private def mirrorDocsSql(normalize: Boolean): String = {
    val key = if (normalize) normTextSql else "text"
    s"""WITH h AS (
       |  SELECT md5($key) AS content_id, doc_id, source FROM documents),
       |g AS (
       |  SELECT content_id,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
       |         CAST(min(doc_id) AS BIGINT) AS rep_doc_id
       |  FROM h GROUP BY content_id)
       |SELECT content_id, n_docs, n_sources, sources, rep_doc_id
       |FROM g WHERE n_sources >= 2""".stripMargin
  }

  private[graft] def mirrorDocsOf(docs: DataFrame, normalize: Boolean): DataFrame = {
    val key = if (normalize) normText(col("text")) else col("text")
    docs
      .select(md5(key).as("content_id"), col("doc_id"), col("source"))
      .groupBy("content_id")
      .agg(count(lit(1)).as("n_docs"),
        size(collect_set(col("source"))).cast("long").as("n_sources"),
        array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
        min(col("doc_id")).as("rep_doc_id"))
      .where(col("n_sources") >= 2)
  }

  val mirrorDocs: QueryDef = QueryDef.sql(
    "x_mirror_docs", mirrorDocsSql(normalize = true)) { (s, d) =>
    mirrorDocsOf(Tables.documents(s, d), normalize = true)
  }

  val mirrorDocsRaw: QueryDef = QueryDef.sql(
    "x_mirror_docs_raw", mirrorDocsSql(normalize = false)) { (s, d) =>
    mirrorDocsOf(Tables.documents(s, d), normalize = false)
  }

  val dupWeights: QueryDef = QueryDef.sql(
    "x_dup_weights", dupWeightsSql(cap = None)) { (s, d) =>
    dupWeightsDf(s, d, cap = None)
  }

  /** cap = 4: weight floor 250,000 (each family discounted at most
    * 4×) — pins the cap as a real parameter on both sides.
    */
  val dupWeightsCap4: QueryDef = QueryDef.sql(
    "x_dup_weights_cap4", dupWeightsSql(cap = Some(4L))) { (s, d) =>
    dupWeightsDf(s, d, cap = Some(4L))
  }

  /** Leakage-free train/val/test split: the split is assigned per
    * near-dup CLUSTER (hash bucket of the cluster label), never per
    * document — near-duplicate documents land in the SAME split by
    * construction, so evaluation can't score memorized training
    * near-dups. The standard eval-integrity split rule; a doc-keyed
    * hash split silently violates it for every cross-split dup pair.
    *
    * Consumer of the CC labeling + the deterministic hash-bucket
    * primitive ([[CurationQueries.hashBucket]] — reproducible,
    * shuffle-free, no rand()). Cut points are percent-of-1000 bucket
    * thresholds, parameters of the builder.
    */
  private def splitLeakfreeSql(trainCut: Int, valCut: Int): String =
    s"""WITH RECURSIVE $clusterCtes,
       |b AS (
       |  SELECT doc AS doc_id, cluster_id,
       |         ${CurationQueries.hashBucketSqlOf("cluster_id")} AS bucket
       |  FROM lab)
       |SELECT doc_id, cluster_id, bucket,
       |       CASE WHEN bucket < $trainCut THEN 'train'
       |            WHEN bucket < $valCut THEN 'val'
       |            ELSE 'test' END AS split
       |FROM b""".stripMargin

  private def splitLeakfreeDf(s: org.apache.spark.sql.SparkSession, d: String,
      trainCut: Int, valCut: Int): DataFrame = {
    require(0 < trainCut && trainCut < valCut && valCut < 1000,
      s"degenerate split cuts ($trainCut, $valCut)")
    ccLabels(s, d)
      .withColumn("bucket", CurationQueries.hashBucket(col("cluster_id")))
      .withColumn("split",
        when(col("bucket") < trainCut, "train")
          .when(col("bucket") < valCut, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))
  }

  val splitLeakfree: QueryDef = QueryDef.sql(
    "x_split_leakfree", splitLeakfreeSql(trainCut = 800, valCut = 900)) { (s, d) =>
    splitLeakfreeDf(s, d, trainCut = 800, valCut = 900)
  }

  /** Cross-tier composition: the curriculum interleaving schedule
    * ([[CurationQueries.curriculumOf]]) computed over the LEAK-FREE
    * train split only — the order a trainer actually consumes: near-dup
    * clusters → cluster-hash split → train subset → exact closed-form
    * schedule positions (1..n_train). Three already-adjudicated
    * operators composed end-to-end; the oracle recomputes the whole
    * chain with the naive global-window rank over the filtered corpus.
    */
  val pipelineOrder: QueryDef = QueryDef.sql(
    "x_pipeline_order",
    s"""WITH RECURSIVE $clusterCtes,
       |b AS (
       |  SELECT doc AS doc_id,
       |         ${CurationQueries.hashBucketSqlOf("cluster_id")} AS bucket
       |  FROM lab),
       |dd AS (
       |  SELECT d.doc_id, d.source FROM documents d
       |  JOIN b ON d.doc_id = b.doc_id WHERE b.bucket < 800),
       |${CurationQueries.curriculumCtes(3, 2, "dd")}
       |${CurationQueries.curriculumSelect}""".stripMargin) { (s, d) =>
    val train = splitLeakfreeDf(s, d, trainCut = 800, valCut = 900)
      .where(col("split") === "train").select("doc_id")
    CurationQueries.curriculumOf(
      Tables.documents(s, d).select("doc_id", "source").join(train, "doc_id"),
      w1 = 3, w2 = 2)
  }

  /** The 90/5/5 profile — pins the cut points as real parameters. */
  val splitLeakfree95: QueryDef = QueryDef.sql(
    "x_split_leakfree_95", splitLeakfreeSql(trainCut = 900, valCut = 950)) { (s, d) =>
    splitLeakfreeDf(s, d, trainCut = 900, valCut = 950)
  }

  /** Shingle-vocabulary growth curve (Heaps-law audit): how many NEW
    * distinct 3-shingles each corpus slice contributes, in doc_id
    * order, binned into `bins` equal doc-id ranges — the
    * marginal-content value of additional data, read before paying
    * for the next acquisition decade. A flattening curve says the
    * source is exhausted; near-linear growth says keep ingesting.
    *
    * Scale shape: one groupBy(sid) min over the shared postings index
    * (the dup-profile cost class), a 1-row bounds broadcast for the
    * bin mapping, and a cumulative window over ≤`bins` rows. Exact
    * integers throughout.
    */
  private def shingleGrowthSql(bins: Int): String =
    s"""WITH $sidPostingsSql,
       |nd AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
       |fs AS (SELECT sid, min(doc_id) AS first_doc FROM post GROUP BY sid),
       |binned AS (
       |  SELECT (first_doc - lo) * $bins // (hi - lo + 1) AS bin
       |  FROM fs CROSS JOIN nd),
       |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_new_shingles FROM binned GROUP BY bin)
       |SELECT bin, n_new_shingles,
       |       CAST(sum(n_new_shingles) OVER (ORDER BY bin) AS BIGINT) AS n_cum_shingles
       |FROM g""".stripMargin

  private def shingleGrowthDf(s: org.apache.spark.sql.SparkSession, d: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"degenerate growth-curve bin count: $bins")
    val post = SharedIndex.sidPostings(s, d)
    val bounds = Tables.documents(s, d).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val g = post.groupBy("sid").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(bounds))
      .select(expr(s"(first_doc - lo) * $bins div (hi - lo + 1)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_new_shingles"))
    g.withColumn("n_cum_shingles", // rows = bin count: bounded, see scaladoc
      sum(col("n_new_shingles")).over(Window.partitionBy().orderBy("bin")))
  }

  val shingleGrowth: QueryDef = QueryDef.sql(
    "x_shingle_growth", shingleGrowthSql(bins = 10)) { (s, d) =>
    shingleGrowthDf(s, d, bins = 10)
  }

  /** 20-bin resolution — pins the bin mapping as a real parameter
    * (finer bins must refine, never reshuffle, the 10-bin curve).
    */
  val shingleGrowthB20: QueryDef = QueryDef.sql(
    "x_shingle_growth_b20", shingleGrowthSql(bins = 20)) { (s, d) =>
    shingleGrowthDf(s, d, bins = 20)
  }

  /** MinHash signature-estimate calibration: for every LSH band
    * candidate pair, the signature-agreement estimate of Jaccard
    * (matching components / `perms` — the statistic the sketch
    * actually measures) is compared against the EXACT postings-join
    * Jaccard, grouped by match count `m`. The output is the
    * calibration curve an LSH deployment reads before trusting the
    * sketch at a new (perms, bands) config: mean/min/max exact
    * similarity per agreement level, all as exact quantized integers
    * (`j_q` = 10⁶·overlap div union; mean = Σ j_q div n — BIGINT
    * arithmetic end to end, no float averaging, so the curve is
    * bit-identical across engines and partitionings).
    *
    * Scale shape: the pair universe is the LSH candidate set (band
    * equi-join, sub-quadratic), the exact verify is the same
    * candidates×doc-size postings join the production pair query
    * runs, and the output is ≤ perms+1 rows. Candidates sharing no
    * shingle (pure band false positives) stay in the curve with
    * j_q = 0 via the left join — dropping them would bias the
    * estimate upward exactly where calibration matters most.
    */
  private def minhashEstimateSql(perms: Int, bands: Int): String = {
    val mSum = (0 until perms)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $sidPostingsSql,
       |${minhashCandCtes(perms, bands)},
       |cnt2 AS (SELECT doc_id, count(*) AS n FROM post GROUP BY doc_id),
       |ov AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS overlap
       |  FROM cand c
       |  JOIN post pa ON pa.doc_id = c.doc_a
       |  JOIN post pb ON pb.doc_id = c.doc_b AND pa.sid = pb.sid
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT c.doc_a, c.doc_b, CAST($mSum AS BIGINT) AS m
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b),
       |jq AS (
       |  SELECT e.m,
       |         coalesce(o.overlap, 0) * 1000000 // (ca.n + cb.n - coalesce(o.overlap, 0)) AS j_q
       |  FROM est e
       |  LEFT JOIN ov o ON e.doc_a = o.doc_a AND e.doc_b = o.doc_b
       |  JOIN cnt2 ca ON e.doc_a = ca.doc_id
       |  JOIN cnt2 cb ON e.doc_b = cb.doc_id)
       |SELECT m, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(j_q) // count(*) AS BIGINT) AS mean_j_q,
       |       CAST(min(j_q) AS BIGINT) AS min_j_q,
       |       CAST(max(j_q) AS BIGINT) AS max_j_q
       |FROM jq GROUP BY m""".stripMargin
  }

  private def minhashEstimateDf(s: org.apache.spark.sql.SparkSession, d: String,
      perms: Int, bands: Int): DataFrame = {
    val post = SharedIndex.sidPostings(s, d)
    val cand = bandCandidates(post, perms, bands)
    val sig = minhashSig(post, "doc_id", perms)
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), sigAgreement("a", "b", perms).as("m"))
      .join(pairOverlaps(cand, post, post), Seq("doc_a", "doc_b"), "left")
      .select(col("m"),
        expr("coalesce(overlap * 1000000 div (n_a + n_b - overlap), 0)").as("j_q"))
      .groupBy("m").agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(j_q) div count(*)").as("mean_j_q"),
        min("j_q").as("min_j_q"),
        max("j_q").as("max_j_q"))
  }

  val minhashEstimate: QueryDef = QueryDef.sql(
    "x_minhash_estimate", minhashEstimateSql(perms = 8, bands = 4)) { (s, d) =>
    minhashEstimateDf(s, d, perms = 8, bands = 4)
  }

  /** The 16-perm / 8-band config — double the signature resolution;
    * pins (perms, bands) through the estimate, the candidate set, and
    * the grouping domain.
    */
  val minhashEstimateP16: QueryDef = QueryDef.sql(
    "x_minhash_estimate_p16", minhashEstimateSql(perms = 16, bands = 8)) { (s, d) =>
    minhashEstimateDf(s, d, perms = 16, bands = 8)
  }

  /** Quality × duplication contingency matrix: every document lands
    * in one (quality_band, dup_class) cell — quality from the exact
    * distinct-token-ratio test (`10·distinct ≥ hiNum·n` → high,
    * `≥ midNum·n` → mid, else low — cross-multiplied integers, no
    * float thresholds), duplication from the near-dup CC labeling
    * (cluster size 1 / 2–3 / 4+). The matrix answers the curation
    * question the two tiers can't answer alone: is duplication
    * concentrated in low-quality documents (cut by quality first and
    * dedup shrinks) or spread uniformly (both passes are load-bearing)?
    * Token sums ride along so the answer is budget-weighted, not just
    * doc-counted.
    *
    * Scale shape: the CC labeling is the already-adjudicated iterative
    * min-label pass; band assignment is per-row; the matrix is one
    * groupBy over ≤ 9 cells.
    */
  private def qualityDupMatrixSql(hiNum: Int, midNum: Int): String =
    s"""WITH RECURSIVE $clusterCtes,
       |szm AS (SELECT cluster_id, count(*) AS csz FROM lab GROUP BY cluster_id),
       |qm AS (
       |  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n,
       |         CAST(len(list_distinct(tok)) AS BIGINT) AS dn
       |  FROM toks),
       |cm AS (
       |  SELECT CASE WHEN qm.n > 0 AND qm.dn * 10 >= qm.n * $hiNum THEN 'high'
       |              WHEN qm.n > 0 AND qm.dn * 10 >= qm.n * $midNum THEN 'mid'
       |              ELSE 'low' END AS quality_band,
       |         CASE WHEN s2.csz = 1 THEN 'unique'
       |              WHEN s2.csz <= 3 THEN 'small'
       |              ELSE 'large' END AS dup_class,
       |         qm.n
       |  FROM qm JOIN lab ON lab.doc = qm.doc_id
       |  JOIN szm s2 ON s2.cluster_id = lab.cluster_id)
       |SELECT quality_band, dup_class,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n) AS BIGINT) AS n_tokens
       |FROM cm GROUP BY 1, 2""".stripMargin

  private def qualityDupMatrixDf(s: org.apache.spark.sql.SparkSession, d: String,
      hiNum: Int, midNum: Int): DataFrame = {
    require(hiNum > midNum && midNum > 0, s"degenerate quality bands: $hiNum/$midNum")
    val docs = Tables.documents(s, d)
    val lab = ccLabels(s, d)
    val sz = lab.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    val q = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("dn"))
    q.join(lab, Seq("doc_id")).join(sz, Seq("cluster_id"))
      .select(
        when(col("n") > 0 && col("dn") * 10 >= col("n") * hiNum, "high")
          .when(col("n") > 0 && col("dn") * 10 >= col("n") * midNum, "mid")
          .otherwise("low").as("quality_band"),
        when(col("csz") === 1, "unique").when(col("csz") <= 3, "small")
          .otherwise("large").as("dup_class"),
        col("n"))
      .groupBy("quality_band", "dup_class").agg(
        count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
  }

  val qualityDupMatrix: QueryDef = QueryDef.sql(
    "x_quality_dup_matrix", qualityDupMatrixSql(hiNum = 7, midNum = 4)) { (s, d) =>
    qualityDupMatrixDf(s, d, hiNum = 7, midNum = 4)
  }

  /** Tighter bands (0.8 / 0.5) — pins the cut points as parameters of
    * the matrix, shifting mass between cells without changing totals.
    */
  val qualityDupMatrixT8: QueryDef = QueryDef.sql(
    "x_quality_dup_matrix_t8", qualityDupMatrixSql(hiNum = 8, midNum = 5)) { (s, d) =>
    qualityDupMatrixDf(s, d, hiNum = 8, midNum = 5)
  }

  /** Lexical-vs-semantic dedup agreement: the MinHash+LSH verified
    * pair set (character/shingle similarity) overlaid on the
    * embedding near-dup pair set (meaning similarity) through the
    * vec_id = doc_id identity — the cross-TIER calibration the
    * method-agreement audit (x_dedup_agreement) runs within the
    * lexical tier. `both` pairs are rewrites caught either way;
    * `lexical_only` are boilerplate collisions with divergent
    * content; `semantic_only` are paraphrases — the class lexical
    * dedup structurally cannot see, which is the number that decides
    * whether an embedding pass is worth its GPU bill.
    *
    * The lexical side is RESTRICTED to pairs whose both endpoints
    * have embeddings (two 1:1 semi-joins) — without this, coverage
    * gaps masquerade as method disagreement.
    *
    * Scale shape: both pair sets are the already-adjudicated
    * candidate-bounded chains; the overlay is one full-outer
    * equi-join on the pair key.
    */
  private def lexsemAgreementSql(perms: Int, bands: Int): String =
    s"""WITH $sidPostingsSql,
       |${minhashPairCtes(perms, bands)},
       |${SimilarityQueries.embedPairCtes},
       |lex AS (
       |  SELECT m.doc_a, m.doc_b FROM mhp m
       |  JOIN eq ea ON ea.vec_id = m.doc_a
       |  JOIN eq eb ON eb.vec_id = m.doc_b),
       |ovl AS (
       |  SELECT CASE WHEN l.doc_a IS NOT NULL AND e.vec_a IS NOT NULL THEN 'both'
       |              WHEN l.doc_a IS NOT NULL THEN 'lexical_only'
       |              ELSE 'semantic_only' END AS method,
       |         coalesce(l.doc_a, e.vec_a) AS da,
       |         coalesce(l.doc_b, e.vec_b) AS db
       |  FROM lex l FULL OUTER JOIN esp e
       |    ON l.doc_a = e.vec_a AND l.doc_b = e.vec_b),
       |md AS (
       |  SELECT method, da AS doc FROM ovl
       |  UNION ALL SELECT method, db FROM ovl)
       |SELECT p.method, p.n_pairs, d2.n_docs
       |FROM (SELECT method, CAST(count(*) AS BIGINT) AS n_pairs
       |      FROM ovl GROUP BY method) p
       |JOIN (SELECT method, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
       |      FROM md GROUP BY method) d2
       |  ON p.method = d2.method""".stripMargin

  private[graft] def lexsemAgreementDf(s: org.apache.spark.sql.SparkSession, d: String,
      perms: Int, bands: Int): DataFrame = {
    val post = SharedIndex.sidPostings(s, d)
    val vecIds = Tables.embeddings(s, d).select("vec_id")
    val lex = verifiedPairs(post, bandCandidates(post, perms, bands))
      .select("doc_a", "doc_b")
      .join(vecIds.select(col("vec_id").as("va")), col("doc_a") === col("va")).drop("va")
      .join(vecIds.select(col("vec_id").as("vb")), col("doc_b") === col("vb")).drop("vb")
    val sem = SimilarityQueries.embedPairsDf(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    pairSetOverlay(lex, sem, onlyA = "lexical_only", onlyB = "semantic_only")
  }

  val lexsemAgreement: QueryDef = QueryDef.sql(
    "x_lexsem_agreement", lexsemAgreementSql(perms = 8, bands = 4)) { (s, d) =>
    lexsemAgreementDf(s, d, perms = 8, bands = 4)
  }

  /** Source-level MinHash sketch similarity: each SOURCE gets one
    * `perms`-component MinHash signature over the union of its
    * documents' distinct shingles — MinHash as a mergeable SET SKETCH
    * aggregate, not a per-doc LSH key — and every source pair reports
    * its component agreement `m_agree`, the sketch's Jaccard estimate
    * `est_j_q = 10⁶·m div perms`, and the EXACT shingle Jaccard
    * `j_q` computed from the postings, so the output is its own
    * calibration table. This is the corpus-acquisition dashboard
    * number: two crawls with high source-level Jaccard are buying the
    * same content twice, and at 100 TB the sketch column is what you
    * keep per source so NEW source candidates compare against the
    * fleet in O(perms) without touching the postings at all.
    *
    * Scale shape: the signature is a source-keyed min-aggregate over
    * the source-distinct postings (vocabulary-bounded after the
    * DISTINCT); the exact intersection is a sid equi-join over those
    * same source-distinct postings (fan-out ≤ |sources| per sid, never
    * doc×doc); the pair matrix itself is |sources|² — bounded by the
    * catalog of sources, not the corpus — so its inequality join is a
    * broadcast over sketch rows, whitelisted like the other bounded
    * matrices.
    */
  private def sourceSketchDf(s: org.apache.spark.sql.SparkSession, d: String,
      perms: Int): DataFrame = {
    val sp = SharedIndex.sidPostings(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .select("source", "sid").distinct()
    val sig = minhashSig(sp, "source", perms)
    val n = sp.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = sp.join(sp.select(col("source").as("source_b"), col("sid")), Seq("sid"))
      .where(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sig.as("a")
      .join(broadcast(sig.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        sigAgreement("a", "b", perms).as("m_agree"))
    pairs
      .join(n.select(col("source").as("source_a"), col("n_sh").as("n_a")), "source_a")
      .join(n.select(col("source").as("source_b"), col("n_sh").as("n_b")), "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("m_agree"),
        expr(s"m_agree * 1000000 div $perms").as("est_j_q"),
        col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        expr("coalesce(n_inter, 0) * 1000000 div (n_a + n_b - coalesce(n_inter, 0))")
          .as("j_q"))
  }

  private def sourceSketchSql(perms: Int): String =
    s"""WITH $sidPostingsSql,
       |sp AS (
       |  SELECT DISTINCT d.source, p.sid
       |  FROM post p JOIN documents d ON d.doc_id = p.doc_id),
       |sig AS (
       |  SELECT source,
       |${minhashSigSqlCols(perms, "        ")}
       |  FROM sp GROUP BY source),
       |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sp GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(count(*) AS BIGINT) AS n_inter
       |  FROM sp a JOIN sp b ON a.sid = b.sid AND a.source < b.source
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(${(0 until perms).map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS m_agree
       |  FROM sig a JOIN sig b ON a.source < b.source)
       |SELECT p.source_a, p.source_b, p.m_agree,
       |       CAST(p.m_agree * 1000000 // $perms AS BIGINT) AS est_j_q,
       |       na.n_sh AS n_a, nb.n_sh AS n_b,
       |       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |       CAST(coalesce(i.n_inter, 0) * 1000000 //
       |            (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)) AS BIGINT) AS j_q
       |FROM pairs p
       |JOIN n na ON na.source = p.source_a
       |JOIN n nb ON nb.source = p.source_b
       |LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b""".stripMargin

  val sourceSketch: QueryDef = QueryDef.sql(
    "x_source_sketch_sim", sourceSketchSql(perms = 8)) { (s, d) =>
    sourceSketchDf(s, d, perms = 8)
  }

  /** The 16-component sketch — half the estimator variance at twice
    * the sketch width; the exact j_q column is identical across
    * configs, which the spec pins (only the estimate moves).
    */
  val sourceSketchP16: QueryDef = QueryDef.sql(
    "x_source_sketch_sim_p16", sourceSketchSql(perms = 16)) { (s, d) =>
    sourceSketchDf(s, d, perms = 16)
  }

  val all: Seq[QueryDef] =
    Seq(dedupExact, dedupNgram, dedupClusters, dedupClustersLss, ccIncremental,
      clusterChurn, minhashSignature, minhashLshPairs,
      dedupSimhash, dedupSimhashB48, dedupCorpus, dedupIncremental,
      passageDedup, passageDedupC24, dupProfile, dupProfileD4,
      crossSourceOverlap, crossSourceOverlapC24, containment,
      clusterRep, clusterRepLen,
      editDedup, editDedupD20, dedupAgreement, clusterSizes,
      dupWeights, dupWeightsCap4, mirrorDocs, mirrorDocsRaw,
      splitLeakfree, splitLeakfree95, pipelineOrder, shingleGrowth, shingleGrowthB20,
      minhashEstimate, minhashEstimateP16, qualityDupMatrix, qualityDupMatrixT8,
      lexsemAgreement, sourceSketch, sourceSketchP16)
}
