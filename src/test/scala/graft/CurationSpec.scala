package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.CurationQueries

class CurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("token packing: distributed prefix sum equals the single-partition reference") {
    val got = CurationQueries.tokenPackDf(spark, sf, budget = 2000L)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive reference: one global window (fine on test-sized data only)
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"), size(llm.TextOps.tokens(col("text"))).cast("long").as("n"))
      .withColumn("cum", sum("n").over(Window.orderBy("doc_id")))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
  }

  test("token packing survives spark.sql.exchange.reuse=false (no hidden reliance on exchange dedup)") {
    val prev = spark.conf.getOption("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val df = CurationQueries.tokenPackDf(spark, sf, budget = 2000L)
      val bad = df.withColumn("expected_shard", expr("(cum_tokens - n_tokens) div 2000"))
        .where(col("shard_id") =!= col("expected_shard"))
      assert(bad.isEmpty)
      // cum_tokens must EQUAL the single-window prefix sum — not merely
      // be monotone: a re-sampled pid assignment between the fan-out
      // branches would still be monotone but globally wrong. This is
      // red if the pid-pinning snapshot in Relational.packCumSum is removed.
      val got = df.select("doc_id", "cum_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = Tables.documents(spark, sf)
        .select(col("doc_id"), size(llm.TextOps.tokens(col("text"))).cast("long").as("n"))
        .withColumn("cum", sum("n").over(Window.orderBy("doc_id")))
        .select("doc_id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
        case None    => spark.conf.unset("spark.sql.exchange.reuse")
      }
    }
  }

  test("stratified sample is partitioning-invariant (pure hash of doc_id, no rand())") {
    val run = CurationQueries.sampleStratified.run
    val a = run(spark, sf).select("doc_id").collect().map(_.getLong(0)).toSet
    // same query over a differently-partitioned scan must select the identical docs
    val reparted = Tables.documents(spark, sf).repartition(7)
    reparted.createOrReplaceTempView("curation_reparted")
    val b = reparted
      .select(col("doc_id"), col("lang"))
      .withColumn("bucket",
        aggregate(
          filter(split(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), ""),
            c => length(c) > 0),
          lit(0L), (acc, c) => (acc * 31 + ascii(c)) % 1000000007L) % 1000)
      .where(col("bucket") <
        when(col("lang") === "en", 500).when(col("lang") === "de", 300).otherwise(100))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("doc chunking: 40-token windows, 8-token overlap, boundary lengths exact") {
    import spark.implicits._
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "))
    // 10 tokens -> 1 chunk; exactly 40 -> 1 chunk; 41 -> 2 chunks
    // (second chunk = tokens 33..41); 104 = 32*2+40 -> exactly 3 chunks
    val docs = Seq(doc(1, 10), doc(2, 40), doc(3, 41), doc(4, 104))
      .toDF("doc_id", "text")
    val out = CurationQueries.docChunks.run(spark, "/root/testdata/sf0.001")
    // semantics pinned on synthetic docs through the PRODUCTION builder
    val got = CurationQueries.chunkDf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(_._4).toSeq == Seq(10L))
    assert(byDoc(2L).map(_._4).toSeq == Seq(40L))
    assert(byDoc(3L).map(_._4).toSeq == Seq(40L, 9L))
    assert(byDoc(3L)(1)._3 == (33 to 41).map(i => s"w$i").mkString(" "))
    assert(byDoc(4L).map(_._4).toSeq == Seq(40L, 40L, 40L))
    // overlap: chunk k starts 8 tokens before chunk k-1 ended
    assert(byDoc(4L)(1)._3.startsWith("w33 w34"))
    assert(byDoc(4L)(0)._3.endsWith("w39 w40"))
    // and the real-table run produces at least one chunk per document
    val docsN = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(out.select("doc_id").distinct().count() == docsN)
  }

  test("redaction scrubs emails and urls and counts them (testdata has none - pin on synthetic rows)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Mail a.b@c.org or bob@d.co.uk today"),
      (2L, "see https://x.io/p?q=1 and http://y.z/"),
      (3L, "nothing here")).toDF("doc_id", "text")
    // through the PRODUCTION builder, not a re-implementation
    val got = CurationQueries.redactDf(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("mail <EMAIL> or <EMAIL> today", 2L, 0L)))
    assert(got(2L) == (("see <URL> and <URL>", 0L, 2L)))
    assert(got(3L) == (("nothing here", 0L, 0L)))
  }

  test("decontamination flags a doc embedding a verbatim benchmark 8-gram, not unrelated docs") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"   // exactly one 8-gram
    val docs = Seq(
      (100L, benchText),                                              // the benchmark doc
      (1L, s"prefix words here $benchText suffix tail"),              // contaminated
      (2L, "totally unrelated words that share no long ngram at all many of them here")
    ).toDF("doc_id", "text")
    val out = CurationQueries.decontaminateDf(docs, col("doc_id") === 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L))
  }

  test("corpus curation: output is quality-floored, token-floored, and fingerprint-unique") {
    val out = CurationQueries.corpusCurate.run(spark, sf).cache()
    assert(out.where(col("quality") < 0.3 || col("n_tokens") < 5).isEmpty)
    // no two surviving docs share an exact fingerprint
    val fps = out.join(Tables.documents(spark, sf), "doc_id")
      .select(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    assert(fps.count() == fps.distinct().count())
    out.unpersist()
  }

  test("token budget: water level caps exactly to the budget; remainder spread by sort order") {
    import spark.implicits._
    // sources sized 10/20/100/1000 tokens; budget = 1130/2 = 565.
    // Water level lands at the largest source: 10+20+100 pass whole,
    // the 1000-token source is capped at 435 — allocations sum to 565
    def doc(src: String, n: Int) = (src, (1 to n).map(_ => "w").mkString(" "))
    val docs = Seq(doc("a", 10), doc("b", 20), doc("c", 100), doc("d", 1000))
      .toDF("source", "text")
    val got = CurationQueries.tokenBudgetOf(docs, num = 1, den = 2)
      .select("source", "n_tokens", "alloc_tokens", "capped")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 10L, 10L, 0L), ("b", 20L, 20L, 0L),
      ("c", 100L, 100L, 0L), ("d", 1000L, 435L, 1L)))

    // equal twins + an odd budget: level floor 2, one remainder token
    // to the sort-order-first source — Σ alloc == budget EXACTLY
    val twins = Seq(doc("x", 5), doc("y", 5)).toDF("source", "text")
    val g2 = CurationQueries.tokenBudgetOf(twins, num = 1, den = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(g2 == Set(("x", 5L, 3L, 1L), ("y", 5L, 2L, 1L)))

    // budget == total degenerates to everyone-uncapped
    val g3 = CurationQueries.tokenBudgetOf(twins, num = 1, den = 1)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(g3 == Set(("x", 5L, 5L, 0L), ("y", 5L, 5L, 0L)))
  }

  test("length trim: exact integer percentile cut drops both outliers, ties decide together") {
    import spark.implicits._
    def doc(id: Long, n: Int) = (id, (1 to n).map(_ => "w").mkString(" "))
    // lengths 1, 2, 2, 3, 100 over N=5; [25, 75] drops the singleton
    // short (cnt_le·100 = 100 < 125) and the long tail
    // (cnt_lt·100 = 400 > 375); both len-2 ties decide identically
    val docs = Seq(doc(1, 1), doc(2, 2), doc(3, 2), doc(4, 3), doc(5, 100))
      .toDF("doc_id", "text")
    val got = CurationQueries.lengthTrimOf(docs, loPct = 25, hiPct = 75)
      .select("doc_id", "n_tokens", "kept").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L), (2L, 2L, 1L), (3L, 2L, 1L),
      (4L, 3L, 1L), (5L, 100L, 0L)))
    // widening to [20, 80] admits both boundaries (>= / <= are exact)
    val wide = CurationQueries.lengthTrimOf(docs, loPct = 20, hiPct = 80)
      .where(col("kept") === 1).count()
    assert(wide == 5)
  }

  test("bloom-prefiltered decontamination ≡ exact formulation, with the sketch in the plan") {
    import spark.implicits._
    // doc 0 is "bench"; doc 1 embeds a verbatim bench 8-gram; doc 2 shares nothing
    val bench = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (0L, bench),
      (1L, "x y " + (1 to 8).map(i => s"b$i").mkString(" ") + " z w q r s t"),
      (2L, (1 to 12).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val exact = rows(CurationQueries.decontaminateDf(docs, col("doc_id") === 0))
    val bloom = CurationQueries.decontaminateBloomDf(docs, col("doc_id") === 0)
    assert(rows(bloom) == exact && exact == Set((1L, 1L)))
    // the sketch pre-filter is genuinely in the physical path
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom pre-filter in plan:\n$plan")
  }

  test("shard assign: exact multiplicative-hash layout, shares sum to 1, s16 refines s8") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, (0 to (i % 7).toInt).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    def hash(id: Long) = ((id % 2147483648L) * 2654435761L) % 4294967296L
    // independent Scala reference for the s=8 layout
    val ref = (0L until 40L).groupBy(id => hash(id) % 8)
      .map { case (sh, ids) => (sh, ids.size.toLong, ids.map(i => (i % 7) + 1).sum) }
      .toSet
    val got8 = CurationQueries.shardAssignOf(docs, 8)
      .select("shard", "n_docs", "n_tokens").as[(Long, Long, Long)].collect().toSet
    assert(got8 == ref)
    val shares = CurationQueries.shardAssignOf(docs, 8)
      .select("token_share").as[Double].collect()
    assert(math.abs(shares.sum - 1.0) < 1e-12)
    // doubling the modulus refines, never reshuffles: every s16 shard's
    // docs sit inside the s8 shard (s16 shard mod 8) — summing the s16
    // audit by shard%8 reproduces the s8 audit exactly
    val got16 = CurationQueries.shardAssignOf(docs, 16)
      .select("shard", "n_docs", "n_tokens").as[(Long, Long, Long)].collect()
    val folded = got16.groupBy(_._1 % 8)
      .map { case (sh, rows) => (sh, rows.map(_._2).sum, rows.map(_._3).sum) }.toSet
    assert(folded == ref)
  }

  test("token budget: tighter budgets solve to lower levels and cap more sources") {
    // Pins the budget fraction as a real parameter (was the folded
    // x_token_budget_b30 registry twin): same 10/20/100/1000 fixture,
    // two tighter solve points, both hand-derived.
    import spark.implicits._
    def doc(src: String, n: Int) = (src, (1 to n).map(_ => "w").mkString(" "))
    val docs = Seq(doc("a", 10), doc("b", 20), doc("c", 100), doc("d", 1000))
      .toDF("source", "text")
    def alloc(num: Int, den: Int) =
      CurationQueries.tokenBudgetOf(docs, num, den)
        .select("source", "alloc_tokens", "capped")
        .as[(String, Long, Long)].collect()
        .map { case (src, a, c) => src -> ((a, c)) }.toMap
    // B = 1130*3/10 = 339: level lands in the largest source (209)
    assert(alloc(3, 10) == Map("a" -> ((10L, 0L)), "b" -> ((20L, 0L)),
      "c" -> ((100L, 0L)), "d" -> ((209L, 1L))))
    // B = 113: level 41 with one remainder token to c — TWO capped
    // sources now, allocations still sum to the budget exactly
    val a10 = alloc(1, 10)
    assert(a10 == Map("a" -> ((10L, 0L)), "b" -> ((20L, 0L)),
      "c" -> ((42L, 1L)), "d" -> ((41L, 1L))))
    assert(a10.values.map(_._1).sum == 113L)
  }

  test("gopher symbols: the threshold pair is a real parameter (strict flips the mid-band docs)") {
    // Pins the strict config (was the folded x_gopher_symbols_strict
    // registry twin): one doc in the symbol mid-band (1/20 < ratio ≤
    // 1/10), one in the bullet mid-band (1/2 < frac ≤ 9/10), one clean.
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 15).map(i => s"w$i").mkString(" ") + " #"), // symbol ratio 1/15
      (2L, "- a b\n- c d\ne f"), // bullet frac 2/3
      (3L, "plain words only here")
    ).toDF("doc_id", "text")
    def kept(symNum: Int, symDen: Int, bulNum: Int, bulDen: Int) =
      CurationQueries.gopherSymbolsDf(docs, symNum, symDen, bulNum, bulDen)
        .select("doc_id", "kept").as[(Long, Long)].collect().toMap
    assert(kept(1, 10, 9, 10) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(kept(1, 20, 1, 2) == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("source funnel tracks the filter config: strict loses the mid-band doc at the quality stage") {
    // Pins that the funnel's stage losses follow the filter parameters
    // (was the folded x_source_funnel_strict registry twin): doc 1
    // passes the default word floor (25 ≥ 20) but not the strict one
    // (25 < 30); the raw stage is config-independent.
    import spark.implicits._
    val dir = llm.SharedIndex.tempDir("funnel").toString
    def words(n: Int) = (1 to n).map(i => s"word$i").mkString(" ")
    Seq((1L, words(25), "en", "s1"), (2L, words(40), "en", "s1"),
        (3L, words(5), "en", "s2"))
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def stages(rule: CurationQueries.GopherRule) =
      CurationQueries.sourceFunnelDf(spark, dir, rule)
        .select("stage", "source", "n_docs", "n_tokens")
        .as[(String, String, Long, Long)].collect().toSet
    val raw = Set(("raw", "s1", 2L, 65L), ("raw", "s2", 1L, 5L))
    assert(stages(CurationQueries.GopherRule(20, 0.30, 0.10)) ==
      raw + (("quality", "s1", 2L, 65L)) + (("dedup", "s1", 2L, 65L)))
    assert(stages(CurationQueries.GopherRule(30, 0.40, 0.08)) ==
      raw + (("quality", "s1", 1L, 40L)) + (("dedup", "s1", 1L, 40L)))
  }

  test("curriculum: closed-form positions are the weighted-interleave permutation") {
    import spark.implicits._
    // sources alphabetical: a (rank 1, w=3), b (rank 2, w=2), c (w=1)
    // L=6 → multipliers 2, 3, 6; keys a:2,4,6  b:3,6  c:6
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"),
      (6L, "c")
    ).toDF("doc_id", "source")
    val got = CurationQueries.curriculumOf(docs, w1 = 3, w2 = 2)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    // order by (key, src_rank): a1(2) a2(4) b1(3)→ sorted: a1(2), b1(3),
    // a2(4), a3(6), b2(6), c1(6) — key ties broken by source rank
    assert(got == Map(1L -> 1L, 4L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 5L, 6L -> 6L))
    // permutation property at a non-uniform source layout
    val big = (1L to 100L).map(i => (i, s"src${i % 7}")).toDF("doc_id", "source")
    val pos = CurationQueries.curriculumOf(big, w1 = 4, w2 = 2)
      .select("pos").as[Long].collect().sorted
    assert(pos.toSeq == (1L to 100L))
  }

  test("mix solve: greedy quality-ranked allocation with one partial take at the budget boundary") {
    import spark.implicits._
    // total effective mass 200 → budget 100. Quality rank: a, c, b.
    // a takes its full 60; c gets the remaining 40 of its 70 (partial,
    // frac 40e6/70 = 571428); b is below the boundary and takes 0.
    val card = Seq(
      ("a", 900000L, 60L), ("b", 500000L, 70L), ("c", 700000L, 70L)
    ).toDF("source", "gopher_pass_q", "eff_tokens_q")
    val got = CurationQueries.mixAllocFrom(card)
      .select("source", "rk", "alloc_q", "take_frac_q")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 1L, 60L, 1000000L),
      ("c", 2L, 40L, 571428L),
      ("b", 3L, 0L, 0L)))
    // a zero-mass source allocates 0 with a deterministic 0 fraction
    val z = CurationQueries.mixAllocFrom(
        Seq(("z", 999999L, 0L), ("y", 1L, 10L)).toDF("source", "gopher_pass_q", "eff_tokens_q"))
      .select("source", "alloc_q", "take_frac_q")
      .as[(String, Long, Long)].collect().toSet
    assert(z == Set(("z", 0L, 0L), ("y", 5L, 500000L)))
  }
}
