package graft

import org.apache.spark.sql.functions._
import graft.llm.TextOps._

/** Unit tests for the LLM-pipeline primitives: shingling, quantized
  * cosine, and the dedup invariants (identical docs ⇒ identical
  * signatures; disjoint docs ⇒ no candidate pairs).
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("registry gram-family plans read the materialized token frame, not the raw text") {
    // The tok_build bench accounting ("per-query numbers are
    // warm-artifact") is only honest if the registry consumers
    // actually SCAN the materialized frame. Pure-frame queries must
    // not touch documents.parquet at all; the cut re-reads documents
    // only for its doc list.
    def roots(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.optimizedPlan
      val v1 = plan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toUri.getPath).toSeq
            case _ => Seq.empty[String]
          }
      }.flatten
      // A Spark upgrade that plans parquet as DSV2 would make the v1
      // match return empty and fail the assertions with a misleading
      // "does not scan the token frame" — match the v2 node too, and
      // if NEITHER matches, degrade legibly to the plan's string form
      // (which always prints scan locations) instead of an empty list.
      val v2 = plan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.rootPaths.map(_.toUri.getPath).toSeq
            case _ => Seq.empty[String]
          }
      }.flatten
      val typed = v1 ++ v2
      if (typed.nonEmpty) typed
      else "/[^\\s,\\]\\)]*\\.parquet".r.findAllIn(plan.toString).toSeq
    }
    val d = "/root/testdata/sf0.001"
    // (the spans/starts queries pin their gram stream behind a lazy
    // localCheckpoint, which replaces lineage with a LogicalRDD — no
    // scan survives in their optimized plan to assert on)
    for (q <- Seq("x_winnow_fingerprints", "x_winnow_fingerprints_w5")) {
      val r = roots(SparkEntry.queries(q)(spark, d))
      assert(r.exists(_.contains("tokhash")), s"$q does not scan the token frame: $r")
      assert(!r.exists(_.contains("documents.parquet")),
        s"$q re-derives from raw text: $r")
    }
    val cut = roots(SparkEntry.queries("x_exact_substr_cut")(spark, d))
    assert(cut.exists(_.contains("tokhash")) && cut.exists(_.contains("documents.parquet")),
      s"cut should scan frame + doc list: $cut")
  }

  test("tokhash artifact builds exactly once for the whole winnow/span/cut/decon family") {
    // The spans/decon queries pin their gram stream behind a lazy
    // localCheckpoint whose LogicalRDD hides lineage, so the plan
    // assertion above can only cover the winnow/cut configs. The
    // warm-artifact accounting ("every config reads ONE materialized
    // frame") is pinned here by the builder-run counter instead: run
    // all seven registry consumers end to end, then assert the
    // tokhash builder ran exactly once in this JVM for this sf-dir
    // (possibly already triggered by an earlier test — the point is
    // it can never run twice).
    val d = "/root/testdata/sf0.001"
    val family = Seq("x_winnow_fingerprints", "x_winnow_fingerprints_w5",
      "x_repeated_spans", "x_repeated_spans_g8",
      "x_exact_substr_cut", "x_exact_substr_cut_g8", "x_decon_cut")
    for (q <- family) SparkEntry.queries(q)(spark, d).count()
    def tokBuilds: Map[String, Int] = llm.SharedIndex.buildCountsSnapshot
      .filter { case (k, _) => k.endsWith("#tokhash") && k.contains("sf0.001") }
    assert(tokBuilds.values.sum == 1,
      s"tokhash built ${tokBuilds.values.sum} times across the family: $tokBuilds")
    // and re-running a consumer never rebuilds
    SparkEntry.queries("x_decon_cut")(spark, d).count()
    assert(tokBuilds.values.sum == 1, s"re-run rebuilt the frame: $tokBuilds")
  }

  test("shinglePostings: distinct word trigrams in order") {
    val docs = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    val sh = shinglePostings(docs, 3).as[(Long, String)].collect().toSet
    // trigrams: abc bcd cda dab abc bcd — distinct = 4
    assert(sh == Set((1L, "a b c"), (1L, "b c d"), (1L, "c d a"), (1L, "d a b")))
  }

  test("shinglePostings: fewer tokens than k -> no shingles") {
    val docs = Seq((1L, "only two")).toDF("doc_id", "text")
    assert(shinglePostings(docs, 3).count() == 0)
  }

  test("qdot is an exact integer dot product") {
    val df = Seq((Seq(1.0f, -2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val d = df.select(qdot(quantize($"a"), quantize($"b")).as("d")).as[Long].head()
    assert(d == 1000L * 3000 + (-2000L) * 4000)
  }

  test("identical texts produce identical exact-dedup fingerprints") {
    val q = llm.DedupQueries.dedupExact
    // crafted frame: write a tiny documents.parquet and run the query on it
    val dir = java.nio.file.Files.createTempDirectory("graftspec").toString
    Seq((1L, "Spark  makes\nETL fast", "en", "s", 20L),
        (2L, "spark makes etl FAST", "en", "s", 20L),
        (3L, "something else", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // doc 1 and 2 normalize to the same text -> same group, keeper = 1
    assert(out(1L) == (1L, "FALSE"))
    assert(out(2L) == (1L, "TRUE"))
    assert(out(3L) == (3L, "FALSE"))
  }

  test("near-identical docs are found by ngram dedup; disjoint docs are not") {
    val dir = java.nio.file.Files.createTempDirectory("graftspec2").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq((1L, base, "en", "s", 10L),
        (2L, base + " extra", "en", "s", 10L),             // near-dup of 1
        (3L, (100 to 130).map(i => s"w$i").mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = llm.DedupQueries.dedupNgram.run(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("incremental dedup pairs only delta docs against the existing corpus") {
    val out = graft.llm.DedupQueries.dedupIncremental
      .run(spark, "/root/testdata/sf0.001")
      .select("doc_new", "doc_old").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every left id is in the delta (doc_id % 10 == 0), every right id
    // is in the existing corpus — no delta×delta or corpus×corpus pair
    assert(out.forall { case (n, o) => n % 10 == 0 && o % 10 != 0 })
  }

  test("shingleDict: sid = global sorted rank, independent of exchange reuse") {
    // Many docs + overlapping vocab → distinct shingles span several
    // range partitions. Disable exchange reuse: sids must STILL be the
    // global rank (the dict pins one pid assignment via cache; it must
    // not depend on Spark deduping the two scans of the range shuffle).
    val docs = (1L to 60L).map { i =>
      (i, (0 to 25).map(j => s"w${(i * 7 + j * 13) % 151}").mkString(" "))
    }.toDF("doc_id", "text")
    val sh = shinglePostings(docs, 3)
    val expect = sh.select("shingle").distinct().as[String].collect().sorted
      .zipWithIndex.map { case (str, i) => str -> (i + 1L) }.toMap
    assert(expect.size > 20)
    val reuseWas = spark.conf.getOption("spark.sql.exchange.reuse")
    try {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      val got = shingleDict(sh).as[(String, Long)].collect().toMap
      assert(got == expect)
    } finally {
      reuseWas match {
        case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
        case None    => spark.conf.unset("spark.sql.exchange.reuse")
      }
    }
  }

  test("SimHash plan shape: bit-vote is one aggregate, no bit-unpivot explode") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val df = llm.DedupQueries.dedupSimhash.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan
    // Only the 4-chunk banding explode may generate rows, and only
    // ABOVE the vote aggregate. A 60-way bit unpivot under the vote
    // would amplify the postings 60× through the shuffle — the round-2
    // anti-pattern this test pins. (sequence(0, 3) is constant-folded
    // to a literal array by the optimizer, so assert on the folded
    // array's width, not on the expression text.)
    val gens = plan.collect { case g: Generate => g }
    assert(gens.nonEmpty)
    gens.foreach { g =>
      val width = g.generator.children.collectFirst {
        case Literal(arr: ArrayData, _) => arr.numElements()
      }
      assert(width.exists(_ <= 8),
        s"non-constant or wide generator in SimHash plan: ${g.generator} (width $width)")
      assert(g.child.collect { case a: Aggregate => a }.nonEmpty,
        "chunk explode must sit ABOVE the vote aggregate")
    }
    // the vote aggregate (60 conditional sums) consumes the postings
    // scan directly — no Generate beneath it. CollapseProject folds the
    // simhash projection INTO the aggregate's output expressions, so
    // count the nested AggregateExpression nodes, not the output width.
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val votes = plan.collect {
      case a: Aggregate if a.aggregateExpressions
        .flatMap(_.collect { case ae: AggregateExpression => ae }).size >= 60 => a
    }
    assert(votes.nonEmpty, "vote aggregate (60 conditional sums) not found")
    votes.foreach(a => assert(a.collect { case g: Generate => g }.isEmpty,
      "a Generate feeds the vote aggregate - the 60x explode anti-pattern returned"))
  }

  test("IVF ANN recalls a reasonable fraction of brute-force neighbors; recall is monotone in Lloyd iterations") {
    val sf = "/root/testdata/sf0.001"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(llm.SimilarityQueries.annTopK.run(spark, sf))
    val ivf = pairs(llm.SimilarityQueries.annIvf.run(spark, sf))
    assert(ivf.nonEmpty)
    def recall(got: Set[(Long, Long)]) = (exact intersect got).size.toDouble / exact.size
    // nprobe=2 of ~5 cells: coarse but must beat random cell overlap
    assert(recall(ivf) >= 0.3,
      s"IVF recall ${recall(ivf)} too low (exact=${exact.size}, ivf=${ivf.size})")
    // x_ann_ivf against the fixed-seed IVF computed on the driver in
    // plain Scala: quantize ×1000 (half-up, as Spark's round), seeds
    // vec_id % 100 == 0 ranked by (csim desc, cent_id), queries
    // vec_id % 50 == 0 probing their 2 nearest cells, top 5 by
    // (sim desc, neighbor_id) excluding self
    case class V(id: Long, qe: Array[Long], nrm: Double)
    def dot(a: Array[Long], b: Array[Long]) = a.indices.map(i => a(i) * b(i)).sum
    def cos(a: V, b: V) = dot(a.qe, b.qe).toDouble / (a.nrm * b.nrm)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.map { case (id, e) =>
        val qe = e.map(x => BigDecimal(x * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
        V(id, qe, math.sqrt(dot(qe, qe).toDouble))
      }
    def nearest(v: V, cands: Seq[V]) = cands.sortWith { (a, b) =>
      val (ca, cb) = (cos(v, a), cos(v, b))
      if (ca != cb) ca > cb else a.id < b.id
    }
    val seeds = vecs.filter(_.id % 100 == 0)
    val cell = vecs.map(v => v.id -> nearest(v, seeds).head.id).toMap
    val ref = vecs.filter(_.id % 50 == 0).flatMap { q =>
      val probed = nearest(q, seeds).take(2).map(_.id).toSet
      nearest(q, vecs.filter(a => a.id != q.id && probed(cell(a.id))))
        .take(5).map(a => (q.id, a.id))
    }.toSet
    assert(ref.nonEmpty && ivf == ref, s"x_ann_ivf ${ivf.size} pairs vs reference ${ref.size}")
    // each Lloyd iteration refines the quantizer: recall must be
    // monotone non-decreasing across 0 → 1 → 2 iterations
    val r1 = recall(pairs(llm.SimilarityQueries.ivfTrainedDf(spark, sf, iters = 1)))
    val r2 = recall(pairs(llm.SimilarityQueries.ivfTrainedDf(spark, sf, iters = 2)))
    assert(r1 >= recall(ivf), s"1-iteration recall $r1 below fixed-grid ${recall(ivf)}")
    assert(r2 >= r1, s"2-iteration recall $r2 below 1-iteration $r1")
  }

  test("connected components: chains merge transitively, singletons self-label") {
    val nodes = (1L to 7L).toDF("doc_id")
    // 1-2-3 is a chain (1 and 3 never pair directly: needs >1 round);
    // 5-6 a pair; 4 and 7 singletons
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = graft.operators.ConnectedComponents.components(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // edge direction must not matter
    val rev = Seq((3L, 2L), (2L, 1L), (6L, 5L)).toDF("doc_a", "doc_b")
    assert(graft.operators.ConnectedComponents.components(nodes, rev)
      .as[(Long, Long)].collect().toMap == got)
    // empty node set -> empty labeling, not an error
    val none = Seq.empty[Long].toDF("doc_id")
    val noEdges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.ConnectedComponents.components(none, noEdges).count() == 0)
  }

  test("alternating components resolve a long chain min-label propagation cannot") {
    // Path graph 1..1000: diameter 999, so min-label propagation needs
    // 999 rounds — far beyond its maxIters=32 safety bound (asserted
    // below with a reduced bound to keep the failure cheap; the default
    // bound fails identically, just 24 rounds slower). The alternating
    // large-star/small-star loop halves tree heights per round and must
    // resolve the same graph well inside its polylog budget.
    val n = 1000L
    val nodes = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.operators.ConnectedComponents
      .componentsAlternating(nodes, chain)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every chain node must label to the component min")
    intercept[IllegalArgumentException] {
      graft.operators.ConnectedComponents.components(nodes, chain, maxIters = 8)
    }
    // and on a mixed small graph the two algorithms agree exactly
    val nodes7 = (1L to 7L).toDF("doc_id")
    val edges7 = Seq((3L, 2L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    assert(graft.operators.ConnectedComponents.componentsAlternating(nodes7, edges7)
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("adversarial skew: a 10k-node giant cluster converges in bounded rounds on both CC paths") {
    // As clusters merge, the component minimum becomes a HOT join key:
    // in a star component every node's label row joins the hub's. This
    // is the worst skew shape the cluster loops can see — one label
    // value carrying the entire component. Two bridged 5k-node stars
    // force (a) the hot hub key, (b) a cross-star merge whose result
    // routes ALL 10k labels through the single minimum. Convergence
    // must stay inside a tight round budget (maxIters here is the
    // assertion, not a safety margin): star contraction's height
    // halving makes the diameter-4 graph resolve in a handful of
    // rounds regardless of the 10^4 fan-in, and min-label needs
    // O(diameter) = ~5. AQE interplay: at these sizes local[4] plans
    // plain SMJ/shuffle-hash joins; at cluster scale the same hot-key
    // fan-in is what spark.sql.adaptive.skewJoin splits — documented
    // in PLANS.md.
    val n = 10000L
    val half = (n / 2).toInt
    val nodes = (1L to n).toDF("doc_id")
    val star1 = (2 to half).map(i => (1L, i.toLong))
    val star2 = (half + 2 to n.toInt).map(i => ((half + 1).toLong, i.toLong))
    val bridge = Seq((half.toLong, (half + 1).toLong))
    val edges = (star1 ++ star2 ++ bridge).toDF("doc_a", "doc_b")

    val lss = graft.operators.ConnectedComponents
      .componentsAlternating(nodes, edges, maxIters = 8)
      .as[(Long, Long)].collect()
    assert(lss.length == n && lss.forall(_._2 == 1L),
      "all 10k nodes must collapse into the single min-labeled cluster")

    val minLabel = graft.operators.ConnectedComponents
      .components(nodes, edges, maxIters = 8)
      .as[(Long, Long)].collect()
    assert(minLabel.length == n && minLabel.forall(_._2 == 1L))
  }

  test("ngram topk: exact counts, deterministic tie-break, WindowGroupLimit plan") {
    val docs = Seq(
      (1L, "en", "a b a b c"),
      (2L, "en", "a b x"),
      (3L, "de", "u v u v")
    ).toDF("doc_id", "lang", "text")
    // en bigrams: doc1 "a b","b a","a b","b c"; doc2 "a b","b x"
    //   -> "a b"=3; "b a"/"b c"/"b x" tie at 1, gram-asc tie-break
    //      ranks "b a"=2, "b c"=3, and "b x" falls off at k=3
    val got = llm.TextQueries.ngramTopkOf(docs, n = 2, k = 3)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", "a b", 3L, 1L), ("en", "b a", 1L, 2L), ("en", "b c", 1L, 3L),
      ("de", "u v", 2L, 1L), ("de", "v u", 1L, 2L)))
    // a document shorter than n contributes nothing rather than erroring
    val one = Seq((9L, "en", "solo")).toDF("doc_id", "lang", "text")
    assert(llm.TextQueries.ngramTopkOf(one, 2, 5).count() == 0)
    // the rank filter must compile to WindowGroupLimit — partial top-k
    // per partition BELOW the exchange, the property that bounds the
    // final shuffle at k rows per language per input partition
    val q = llm.TextQueries.ngramTopk.run(spark, "/root/testdata/sf0.001")
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-language top-k did not compile to WindowGroupLimit")
  }

  test("repeated spans: cross-doc and within-doc repeats merge into maximal islands") {
    val docs = Seq(
      (1L, "en", "p q r s t u"),
      (2L, "en", "x p q r s y"),
      (3L, "en", "a b c d a b c d")
    ).toDF("doc_id", "lang", "text")
    // gram=3: "p q r"/"q r s" occur in docs 1+2; "a b c"/"b c d" occur
    // twice WITHIN doc 3 (self-repetition counts, as in exact-substring
    // dedup). Adjacent repeated positions merge: doc1 {1,2} -> span
    // 1..4; doc2 {2,3} -> 2..5; doc3 {1,2} and {5,6} -> 1..4 and 5..8
    // (two islands, not one — positions 3,4 are unrepeated).
    val got = llm.TextQueries.repeatedSpansOf(docs, gram = 3, minOcc = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 4L, 4L, 2L), (2L, 2L, 5L, 4L, 2L),
      (3L, 1L, 4L, 4L, 2L), (3L, 5L, 8L, 4L, 2L)))
    // a corpus with no repeats yields no spans
    val uniq = Seq((1L, "en", "a b c"), (2L, "en", "d e f")).toDF("doc_id", "lang", "text")
    assert(llm.TextQueries.repeatedSpansOf(uniq, gram = 3, minOcc = 2).count() == 0)
  }

  test("decon spans merge overlapping hits into maximal intervals and skip clean docs") {
    // gram=3, benchmark = doc_id % 5 == 0. Bench doc 5 holds exactly
    // one 3-gram "a b c"; bench doc 10 holds "c d e". Train doc 1
    // embeds both with coverage overlap: "x y a b c d e z" has hits at
    // pos 3 ("a b c") and pos 5 ("c d e") — the connecting gram at
    // pos 4 ("b c d") is NOT in the benchmark, so gaps-and-islands
    // over starts would split this into two spans; interval-merge must
    // emit ONE span [3, 7] (start 5 <= frontier 5 + 1). Train doc 2
    // has two genuinely disjoint hits -> two spans. Doc 3 is clean ->
    // absent.
    val docs = Seq(
      (1L, "en", "x y a b c d e z"),
      (2L, "en", "a b c m n o p c d e"),
      (3L, "en", "q r s t u v"),
      (5L, "en", "a b c"),
      (10L, "en", "c d e")
    ).toDF("doc_id", "lang", "text")
    val got = llm.CurationQueries.deconSpansDf(docs, col("doc_id") % 5 === 0, gram = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 3L, 7L, 5L, 2L),
      (2L, 1L, 3L, 3L, 1L), (2L, 8L, 10L, 3L, 1L)))
    // touching (frontier + 1) merges too: hits at pos 1 and pos 4 with
    // gram 3 cover [1,3] and [4,6] — adjacent, one span
    val touch = Seq(
      (1L, "en", "a b c c d e w"),
      (5L, "en", "a b c"),
      (10L, "en", "c d e")
    ).toDF("doc_id", "lang", "text")
    val t = llm.CurationQueries.deconSpansDf(touch, col("doc_id") % 5 === 0, gram = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(t == Set((1L, 1L, 6L, 6L, 2L)))
  }

  test("decon cut excises covered tokens from train docs and drops bench docs") {
    // same corpus as the span test: doc 1's merged span [3,7] cuts to
    // "x y z"; doc 2's two disjoint spans leave the middle; clean doc 3
    // survives whole; bench docs 5/10 are not training rows at all
    val docs = Seq(
      (1L, "en", "x y a b c d e z"),
      (2L, "en", "a b c m n o p c d e"),
      (3L, "en", "q r s t u v"),
      (5L, "en", "a b c"),
      (10L, "en", "c d e")
    ).toDF("doc_id", "lang", "text")
    val got = llm.CurationQueries.deconCutDf(docs, col("doc_id") % 5 === 0, gram = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 8L, 3L, "x y z"),
      (2L, 10L, 4L, "m n o p"),
      (3L, 6L, 6L, "q r s t u v")))
  }

  test("exact-substring cut removes covered tokens and keeps the rest in order") {
    val docs = Seq(
      (1L, "en", "p q r s t u"),
      (2L, "en", "x p q r s y"),
      (3L, "en", "a b c")
    ).toDF("doc_id", "lang", "text")
    // gram=3, minOcc=2: repeated starts doc1 {1,2}, doc2 {2,3} (the
    // shared "p q r s" run); coverage doc1 = 1..4, doc2 = 2..5.
    // doc3 has no repeats and survives whole.
    val got = llm.TextQueries.exactSubstrCutOf(docs, gram = 3, minOcc = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 6L, 2L, "t u"),
      (2L, 6L, 2L, "x y"),
      (3L, 3L, 3L, "a b c")))
    // a fully-duplicated document keeps nothing, not a dropped row
    val dup = Seq((1L, "en", "m n o"), (2L, "en", "m n o")).toDF("doc_id", "lang", "text")
    val cut = llm.TextQueries.exactSubstrCutOf(dup, gram = 3, minOcc = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(cut == Set((1L, 3L, 0L, ""), (2L, 3L, 0L, "")))
  }

  test("passage dedup keeps the first occurrence of each chunk and rebuilds docs in order") {
    // chunkTokens=4, no overlap: doc1 = [a b c d][e f g h];
    // doc2 re-uses doc1's first chunk then adds its own;
    // doc3 IS doc1's first chunk — it loses everything but stays a row.
    val docs = Seq(
      (1L, "en", "a b c d e f g h"),
      (2L, "en", "a b c d x y z w"),
      (3L, "en", "a b c d")
    ).toDF("doc_id", "lang", "text")
    val got = llm.DedupQueries.passageDedupOf(docs, chunkTokens = 4)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 2L, 2L, "a b c d e f g h"),
      (2L, 2L, 1L, "x y z w"),
      (3L, 1L, 0L, "")))
  }

  test("semdedup: within-cell near-dups drop to the lowest id; cross-cell never pairs") {
    // centroids = ids 0 and 100: cells split the 2-D space along axes.
    // vec 1/2 are near-copies of centroid 0 -> both ≥ τ-similar to
    // vec 0 (lowest id in cell) and dropped; vec 3 shares the cell but
    // sits below τ; 101 shares cell 100 and also clears the bar.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.89f, 0.11f)),
      (3L, Seq(0.8f, 0.6f)),
      (100L, Seq(0.0f, 1.0f)),
      (101L, Seq(0.5f, 0.8f))
    ).toDF("vec_id", "embedding")
    val got = llm.SimilarityQueries.semDedupOf(emb, tau = 0.9)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 1L), (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L),
      (100L, 100L, 1L), (101L, 100L, 1L)))
  }

  test("dup profile scores the recycled fraction of each doc's shingles; shingle-less docs stay rows") {
    val dir = java.nio.file.Files.createTempDirectory("dupprof").toString
    Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "p q r"), (4L, "z z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // trigrams: doc1 {abc, bcd}, doc2 {abc, bcx}, doc3 {pqr}, doc4 none;
    // only "a b c" reaches df 2 → docs 1/2 score 1 of 2 = 500000 ppm.
    val got = llm.DedupQueries.dupProfileOf(spark, dir, minDf = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 1L, 500000L),
      (3L, 1L, 0L, 0L),
      (4L, 0L, 0L, 0L)))
  }

  test("hard negatives exclude same-label neighbors and rank by cosine") {
    val emb = Seq(
      (0L, 1, Seq(1.0f, 0.0f)),   // the query (id % 50 == 0)
      (1L, 1, Seq(0.99f, 0.01f)), // same label: excluded however similar
      (2L, 2, Seq(0.9f, 0.1f)),   // different label, nearest
      (3L, 2, Seq(0.0f, 1.0f)),   // different label, orthogonal
      (4L, 3, Seq(0.7f, 0.3f))    // different label, second
    ).toDF("vec_id", "label", "embedding")
    val got = llm.SimilarityQueries.hardNegativesOf(emb, k = 2)
      .select("query_id", "neighbor_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 2L, 1L), (0L, 4L, 2L)))
  }

  test("incremental semdedup drops delta vectors near a corpus vector, never intra-delta") {
    // centroid seed = id 1 (corpus side); delta ids are %10==0.
    // 10 is a near-copy of corpus vector 2 -> dropped; 20 and 30 are
    // near-copies of EACH OTHER but of no corpus vector -> both kept
    // (intra-batch pairs are out of contract); corpus rows never appear.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),    // centroid seed + corpus
      (2L, Seq(0.9f, 0.1f)),    // corpus
      (10L, Seq(0.9f, 0.11f)),  // delta, ~= vec 2 -> dropped
      (20L, Seq(-0.7f, 0.7f)),  // delta, far from corpus -> kept
      (30L, Seq(-0.7f, 0.71f))  // delta, ~= 20 but intra-delta -> kept
    ).toDF("vec_id", "embedding")
    val got = llm.SimilarityQueries.semDedupIncrOf(emb, tau = 0.95)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 1L, 0L), (20L, 1L, 1L), (30L, 1L, 1L)))
  }

  test("tfidf topk: exact integer scores rank rare terms above common ones") {
    val docs = Seq(
      (1L, "en", "x x y"),
      (2L, "en", "y z")
    ).toDF("doc_id", "lang", "text")
    // N=2; df: x=1, y=2, z=1. score_q = tf*1e6*N div df:
    //   doc1 x: 2*2e6/1=4e6 > y: 1*2e6/2=1e6  (frequent-and-rare wins)
    //   doc2 z: 2e6/1=2e6  > y: 2e6/2=1e6     (idf demotes the shared term)
    val got = llm.TextQueries.tfidfTopkOf(docs, k = 2)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, "x", 2L, 1L, 4000000L, 1L), (1L, "y", 1L, 2L, 1000000L, 2L),
      (2L, "z", 1L, 1L, 2000000L, 1L), (2L, "y", 1L, 2L, 1000000L, 2L)))
  }

  test("multimodal stub decode: deterministic, one output row per input") {
    val dir = java.nio.file.Files.createTempDirectory("graftspec3").toString
    Seq((1L, "abc", "en", "s", 3L), (2L, "defgh", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = llm.MultimodalQueries.multimodalDecode.run(spark, dir)
    assert(out.count() == 2)
    val r = out.where($"doc_id" === 1).head()
    assert(r.getAs[Long]("width") == 4L && r.getAs[Long]("height") == 22L) // 3%640+1, 21%480+1
    // f0_q: checksum("abc") = ((0*31+97)*31+98)*31+99 = 96354 -> &255 = 98
    assert(r.getAs[Long]("f0_q") == math.round(98.0 / 255 * 1000))
  }

  test("BMP carrier synthesis: container bytes match a hand-built reference, and the real parser round-trips them") {
    // Pins the SYNTH side of x_multimodal_bmp against independently
    // hand-assembled bytes (imperative, no shared column code) —
    // without this, a consistent-but-wrong synth/parse pair (e.g.
    // both top-down) would cancel out in the oracle compare, since
    // every emitted statistic is pixel-permutation-invariant.
    // doc_id=1: w=5, h=4 -> row bytes 15, padded to 16 (1 pad byte),
    // imgsize 64, file size 118.
    def le32(v: Int) = Array[Byte]((v & 255).toByte, ((v >> 8) & 255).toByte,
      ((v >> 16) & 255).toByte, ((v >> 24) & 255).toByte)
    def le16(v: Int) = Array[Byte]((v & 255).toByte, ((v >> 8) & 255).toByte)
    val pix = scala.collection.mutable.ArrayBuffer.empty[Byte]
    for (rs <- 0 until 4) { // storage rows, bottom-up
      val y = 3 - rs
      for (x <- 0 until 5) {
        val i = y * 5 + x
        pix += ((5 + 2 * i) % 256).toByte // B = (5*id + 2i) % 256, id=1
        pix += ((3 + 5 * i) % 256).toByte // G = (3*id + 5i) % 256
        pix += ((1 + 7 * i) % 256).toByte // R = (id + 7i) % 256
      }
      pix += 0 // row pad to 16 bytes
    }
    val expected = Array[Byte]('B', 'M') ++ le32(118) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(5) ++ le32(4) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(64) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ pix
    val docs = Seq((1L, "x", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val payload = llm.MultimodalQueries.bmpPayloads(docs)
      .select("payload").head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(payload, expected),
      s"synthesized BMP differs from hand-built reference (got ${payload.length} bytes, want ${expected.length})")
    // Round-trip through the REAL parser's magic-byte dispatch: the
    // 20 logical pixels carry r=(1+7i)%256 etc., i=0..19, so
    // sum_r = 20 + 7*190 = 1350, sum_g = 60 + 5*190 = 1010,
    // sum_b = 100 + 2*190 = 480 (all < 256 per channel: max r = 134,
    // g = 98, b = 43 — no mod wraps at this doc_id).
    val Seq(d) = llm.MediaDecode.decodeBatchReal(
      Seq(llm.MultimodalQueries.MediaRow(1L, payload, "bmp")))
    assert((d.width, d.height, d.format, d.n_frames) == ((5, 4, "bmp", 1)))
    val n = 20.0
    assert(math.round(d.features(0) * n * 255) == 1350L, "sum_r via feature rescale")
    assert(math.round(d.features(1) * n * 255) == 1010L, "sum_g via feature rescale")
    assert(math.round(d.features(2) * n * 255) == 480L, "sum_b via feature rescale")
  }

  test("mutual-kNN graph: a clump of identical vectors is fully reciprocal; an opposite vector never pairs") {
    val dir = java.nio.file.Files.createTempDirectory("knng").toString
    // ids 0-3: identical vectors -> same bucket in every band (same
    // sign on every plane), pairwise sim 1.0; id 9 is the NEGATED
    // vector -> every plane dot flips sign, so its per-band bucket is
    // the bitwise complement of the clump's — it never shares a
    // bucket and can never become a candidate.
    val v = Seq(1.0f, 2.0f, 0.5f, -1.5f)
    val neg = v.map(-_)
    (Seq(0L, 1L, 2L, 3L).map(id => (id, v, 0)) :+ ((9L, neg, 1)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = llm.SimilarityQueries.knnGraph.run(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // k=5 ≥ clump size, so each node's top-k holds all three others:
    // every clump pair is mutual; nothing touches 9
    assert(got == Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("folded 16-perm LSH twins: unequal candidate sets, identical verified output") {
    // Round-14 fold evidence, pinned: x_minhash_lsh_pairs_p16 and
    // x_lexsem_agreement_p16 were retired because exact-Jaccard
    // verification collapses the (16 perms, 8 bands) vs (8, 4)
    // difference — both layouts reach full recall on the j ≥ 0.8 pair
    // set at sf0.01/sf0.1/sf1 (value-identical dumps, TESTDATA.md
    // round-14 wave). This spec pins that identity as a PROPERTY:
    // the candidate GENERATION genuinely differs between configs (so
    // the equality below is recall, not plan identity), yet the
    // verified pairs — and the lexical-vs-semantic overlay built on
    // them — are equal. The 16-perm signature arithmetic keeps its
    // external oracle where it visibly diverges (x_minhash_estimate_p16,
    // x_source_sketch_sim_p16).
    import llm.DedupQueries._
    val d = "/root/testdata/sf0.001"
    val post = llm.SharedIndex.sidPostings(spark, d)
    // a second call on the same dir (spelled differently) scans the
    // persisted artifact: the postings build ran once in this JVM
    llm.SharedIndex.sidPostings(spark, d + "/")
    assert(llm.SharedIndex.buildCountsSnapshot.get(s"$d#sid_postings").contains(1))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val candBase = pairSet(bandCandidates(post, perms = 8, bands = 4))
    val cand16 = pairSet(bandCandidates(post, perms = 16, bands = 8))
    assert(candBase != cand16,
      s"band configs produced IDENTICAL candidates (${candBase.size}) — the fold's " +
        "premise (different generation, same verified output) would be vacuous")
    def verified(perms: Int, bands: Int): Map[(Long, Long), Double] =
      verifiedPairs(post, bandCandidates(post, perms, bands))
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val (vBase, v16) = (verified(8, 4), verified(16, 8))
    assert(vBase.nonEmpty, "no verified pairs at sf0.001 — identity would be vacuous")
    assert(v16 == vBase, s"verified pair sets diverge across band configs " +
      s"(only-16=${(v16.keySet -- vBase.keySet).take(5)}, only-base=${(vBase.keySet -- v16.keySet).take(5)})")
    def overlay(perms: Int, bands: Int): Set[(String, Long, Long)] =
      lexsemAgreementDf(spark, d, perms, bands)
        .as[(String, Long, Long)].collect().toSet
    assert(overlay(16, 8) == overlay(8, 4), "lexsem overlay diverges across band configs")
    // The identity again at sf0.01 — the scale the oracle gate runs
    // at, and the smallest point the round-14 fold audit compared
    // dumps at (the audit itself found a config, x_exact_substr_cut_g8,
    // that diverges only PAST sf0.01, so asserting at one tiny scale
    // would under-pin the fold). RE-FOLD TRIGGER: the 16-perm/8-band
    // knob exists precisely for larger corpora, where band recall may
    // legitimately diverge — if this identity (or the sf1 dump
    // compare) EVER breaks at a new scale, the fold's premise is
    // gone and x_minhash_lsh_pairs_p16 / x_lexsem_agreement_p16
    // return to the registry as externally-oracled queries (their
    // SQL builders are still live: lexsemAgreementSql / the band
    // CTEs are parameterized, so un-folding is a two-line registry
    // change).
    val d01 = "/root/testdata/sf0.01"
    val post01 = llm.SharedIndex.sidPostings(spark, d01)
    def verified01(perms: Int, bands: Int): Map[(Long, Long), Double] =
      verifiedPairs(post01, bandCandidates(post01, perms, bands))
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val v01Base = verified01(8, 4)
    assert(v01Base.nonEmpty, "no verified pairs at sf0.01 — identity would be vacuous")
    assert(verified01(16, 8) == v01Base,
      "verified pair sets diverge across band configs at sf0.01 — RE-FOLD TRIGGER: " +
        "restore x_minhash_lsh_pairs_p16 / x_lexsem_agreement_p16 to the registry")
  }

  test("knnEdgesDf: pooled-slice path == from-scratch sketch; bands>pool fallback is live and consistent") {
    import llm.SimilarityQueries._
    val d = "/root/testdata/sf0.001"
    val e = quantVecs(spark, d)
    def edgeMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("vec_a", "vec_b", "sim").as[(Long, Long, Double)]
        .collect().map { case (a, b, s) => (a, b) -> s }.toMap
    def assertSameEdges(got: Map[(Long, Long), Double],
        want: Map[(Long, Long), Double], what: String): Unit = {
      assert(got.keySet == want.keySet, s"$what: edge sets differ " +
        s"(only-got=${(got.keySet -- want.keySet).take(5)}, only-want=${(want.keySet -- got.keySet).take(5)})")
      got.foreach { case (k, s) => assert(math.abs(s - want(k)) < 1e-12, s"$what: sim drift at $k") }
    }
    // (1) the identity the pool slicing rests on: plane weights depend
    // only on the absolute plane index, so a standalone sketch at ANY
    // width restricted to the pool's bands IS the pooled sketch
    val pool = knnSketchDf(spark, d)
    val wideSketch = bandedBuckets(e, 8, 8)
    assert(wideSketch.where(col("band") < SketchPoolBands).exceptAll(pool).isEmpty &&
      pool.exceptAll(wideSketch.where(col("band") < SketchPoolBands)).isEmpty,
      "standalone 8-band sketch restricted to the pool's bands != pooled sketch")
    // (2) edge parity at a covered width: registry slice path vs the
    // same back half fed a from-scratch 4-band sketch
    assertSameEdges(edgeMap(knnEdgesDf(spark, d, 4, 8, 5)),
      edgeMap(knnEdgesFrom(e, bandedBuckets(e, 4, 8), 5)), "b4 slice-vs-standalone")
    // (3) the fallback branch itself, through the public entry at
    // bands=8 > SketchPoolBands: routes to a standalone sketch and
    // matches the explicit composition; top-k contract holds
    val fb = knnEdgesDf(spark, d, 8, 8, 5)
    assertSameEdges(edgeMap(fb), edgeMap(knnEdgesFrom(e, wideSketch, 5)), "b8 fallback")
    val overK = fb.groupBy("vec_a").count().where(col("count") > 5).count()
    assert(overK == 0, "fallback edges exceed k per source node")
  }

  test("kNN density: a dense clump drops, candidate-less vectors are absent (trivially kept)") {
    val dir = java.nio.file.Files.createTempDirectory("knnd").toString
    val v = Seq(1.0f, 2.0f, 0.5f, -1.5f)
    val neg = v.map(-_)
    (Seq(0L, 1L, 2L, 3L).map(id => (id, v, 0)) :+ ((9L, neg, 1)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = llm.SimilarityQueries.knnDensity.run(spark, dir)
      .select("vec_id", "k_found", "n_close", "kept")
      .as[(Long, Long, Long, Long)].collect().toSet
    // each clump node sees the 3 others at sim ~1.0 ≥ τ=0.25 —
    // n_close=3 meets minClose=3, so the whole clump is pruned;
    // 9 has no LSH candidate and yields no row
    assert(got == Set((0L, 3L, 3L, 0L), (1L, 3L, 3L, 0L),
      (2L, 3L, 3L, 0L), (3L, 3L, 3L, 0L)))
  }

  test("cross-source overlap counts distinct shared passages once per source pair") {
    // 16-token chunker: docs 1 (src a) and 2 (src b) are identical ->
    // share their one chunk; doc 3 (src b) repeats the SAME text, but
    // (source, chunk) dedup counts it once; doc 4 (src c) is disjoint.
    val t16 = (1 to 16).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, t16, "a"), (2L, t16, "b"), (3L, t16, "b"), (4L, "totally different words here", "c")
    ).toDF("doc_id", "text", "source")
    val got = llm.DedupQueries.crossSourceOverlapOf(docs, chunkTokens = 16)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 1L)))
  }

  test("gopher filter: repetition and length rules flag the right documents with exact evidence") {
    val docs = Seq(
      // 24 distinct words, mean length (9*5+15*6)/24 = 5.6: passes every default rule
      (1L, (1 to 24).map(i => s"word$i").mkString(" ")),
      // 30 words, 2 distinct, one dominating bigram: dropped by both repetition rules
      (2L, Seq.fill(15)("spam ham").mkString(" ")),
      // too short (5 words)
      (3L, "just five words right here"),
      // mean word length 16 > 10
      (4L, Seq.fill(25)("extraordinarily").zipWithIndex.map { case (w, i) => w + i }.mkString(" "))
    ).toDF("doc_id", "text")
    val got = llm.CurationQueries.gopherFilterDf(docs, llm.CurationQueries.GopherRule.Default)
      .select("doc_id", "kept").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // exact evidence on the repetitive doc: 30 words (105 chars of
    // word mass), 2 distinct; "spam ham" occurs 15 of 29 grams at 7
    // word chars each -> top frac = 15*7/105 = 1.0 (the whole word
    // mass is covered by one bigram)
    val r2 = llm.CurationQueries.gopherFilterDf(docs, llm.CurationQueries.GopherRule(20, 0.30, 0.10))
      .where($"doc_id" === 2).head()
    assert(r2.getAs[Long]("n_words") == 30L)
    assert(r2.getAs[Double]("distinct_word_ratio") == 2.0 / 30)
    assert(r2.getAs[Double]("top_2gram_char_frac") == 1.0)
  }

  test("gopher symbols: symbol and bullet-line rules with exact evidence, both configs") {
    // the sf corpus carries no '#'/'...'/bullets (the oracle there
    // proves engine equivalence only), so the rule's logic is
    // exercised HERE on crafted documents
    val docs = Seq(
      (1L, "a perfectly ordinary sentence with no formatting noise at all"),
      (2L, "w1 # w2 # w3 # w4 # w5 #"), // 5 words, 5 hashes -> ratio 1.0
      (3L, "one two three... four five..."), // 2 non-overlapping ellipses / 5 words
      // 6 lines, 4 bullet lines (incl. an indented one): frac 4/6 —
      // inside the default 9/10 cap, outside the strict 1/2 cap
      (4L, "intro line\n- item one\n  - item two\n* item three\n• item four\nplain tail"),
      (5L, "a.....") // 5 dots = ONE non-overlapping '...', not three overlapping
    ).toDF("doc_id", "text")
    def keptMap(symNum: Int, symDen: Int, bulNum: Int, bulDen: Int) =
      llm.CurationQueries.gopherSymbolsDf(docs, symNum, symDen, bulNum, bulDen)
        .select("doc_id", "kept").as[(Long, Long)].collect().toMap
    assert(keptMap(1, 10, 9, 10) == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
    assert(keptMap(1, 20, 1, 2) == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    val rows = llm.CurationQueries.gopherSymbolsDf(docs, 1, 10, 9, 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(2L).getAs[Double]("symbol_word_ratio") == 1.0)
    assert(rows(3L).getAs[Double]("symbol_word_ratio") == 2.0 / 5)
    assert(rows(4L).getAs[Long]("n_lines") == 6L)
    assert(rows(4L).getAs[Double]("bullet_line_frac") == 4.0 / 6)
    assert(rows(5L).getAs[Double]("symbol_word_ratio") == 1.0) // overlap-free count
  }

  test("label-centroid outliers: farthest member flagged first, exact-tie broken by vec_id") {
    val emb = Seq(
      // label 1: two members near (1,0), one orthogonal stray -> the
      // stray (id 3) is the rank-1 outlier
      (1L, 1, Seq(1.0f, 0.0f)),
      (2L, 1, Seq(0.9f, 0.1f)),
      (3L, 1, Seq(0.0f, 1.0f)),
      // label 2: two members symmetric about the centroid (500, 500):
      // sims are EXACTLY equal -> the vec_id tie-break elects id 4
      (4L, 2, Seq(1.0f, 0.0f)),
      (5L, 2, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = llm.SimilarityQueries.labelOutliersOf(emb, k = 1)
      .select("label", "vec_id", "rk").as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 3L, 1L), (2, 4L, 1L)))
  }

  test("containment: nested docs pair directionally; threshold widens the reverse tier") {
    // A(10 toks) ⊂ D(15) ⊂ B(20): 8/13/18 trigram shingles. Forward
    // containments are all 1.0; reverse D-in-B is 13/18 ≈ 0.72 —
    // inside t7 only; B-in-A (8/18) and D-in-A (8/13) never qualify
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "))
    val docs = Seq(doc(1, 10), doc(2, 15), doc(3, 20)).toDF("doc_id", "text")
    val post = shinglePostings(docs, 3).withColumnRenamed("shingle", "sid")
    def pairs(num: Int, den: Int) =
      llm.DedupQueries.containmentFromOverlaps(llm.DedupQueries.pairOverlaps(
          llm.DedupQueries.rareShingleCandidates(post), post, post), num, den)
        .select("doc_inner", "doc_outer").as[(Long, Long)].collect().toSet
    assert(pairs(9, 10) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(7, 10) == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 2L)))
  }

  test("lang audit: per-source agree rate and dominant confusion, NULL when all agree") {
    val docs = Seq(
      (1L, "the a of", "en", "s1"),      // predicted en -> agree
      (2L, "der und die", "en", "s1"),   // predicted de -> en->de confusion
      (3L, "el la y", "es", "s2")        // predicted es -> agree
    ).toDF("doc_id", "text", "lang", "source")
    val got = llm.TextQueries.langAuditOf(docs)
      .select("source", "n_docs", "n_agree", "agree_frac", "top_confusion")
      .as[(String, Long, Long, Double, Option[String])].collect().toSet
    assert(got == Set(
      ("s1", 2L, 1L, 0.5, Some("en->de")),
      ("s2", 1L, 1L, 1.0, None)))
  }

  test("label prop: majority vote over labeled neighbors; opposite vectors never candidate") {
    // holdout id 0 (true label 1) sits on (1,0) with four labeled
    // twins: three vote label 7, one votes label 1 -> majority 7,
    // correct = 0. The antipodal labeled vector (id 6, label 9) flips
    // every non-zero sign bit, so no LSH band matches it -> k_found
    // stays 4 (it never reaches the vote).
    val emb = Seq(
      (0L, 1, Seq(1.0f, 0.0f)),
      (1L, 7, Seq(1.0f, 0.0f)),
      (2L, 7, Seq(1.0f, 0.0f)),
      (3L, 7, Seq(1.0f, 0.0f)),
      (4L, 1, Seq(1.0f, 0.0f)),
      (6L, 9, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = llm.SimilarityQueries.labelPropOf(emb, bands = 4, r = 8, k = 5)
      .select("vec_id", "pred_label", "votes", "k_found", "true_label", "correct")
      .as[(Long, Int, Long, Long, Int, Long)].collect().toSet
    assert(got == Set((0L, 7, 3L, 4L, 1, 0L)))
  }

  test("vocab coverage: OOV is exactly the tail outside the top-v cut; rate falls with v") {
    val docs = Seq(
      (1L, "aa aa aa bb", "s1"),
      (2L, "cc dd", "s2")
    ).toDF("doc_id", "text", "source")
    // v=1: vocab = {aa} (count 3) -> s1 misses bb, s2 misses both
    val v1 = llm.TextQueries.vocabCoverageOf(docs, v = 1)
      .select("source", "n_docs", "n_tokens", "oov_tokens", "oov_rate")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(v1 == Set(("s1", 1L, 4L, 1L, 0.25), ("s2", 1L, 2L, 2L, 1.0)))
    // v=2: the 1-count tie (bb/cc/dd) breaks lexicographically -> bb
    // joins the vocab; s2 is still fully OOV
    val v2 = llm.TextQueries.vocabCoverageOf(docs, v = 2)
      .select("source", "oov_tokens").as[(String, Long)].collect().toSet
    assert(v2 == Set(("s1", 0L), ("s2", 2L)))
  }

  test("token drift: exact cross-multiplied ranking surfaces the surged token first") {
    // cohort A = src0..src9 (here src1), B = the rest (src15):
    // tot_a=4, tot_b=2; drift keys |cnt_a*tot_b - cnt_b*tot_a| are
    // spam=6, y=4, x=2 -> top-2 is (spam, y)
    val docs = Seq(
      (1L, "spam spam spam x", "src1"),
      (2L, "x y", "src15")
    ).toDF("doc_id", "text", "source")
    val got = llm.TextQueries.tokenDriftOf(docs, k = 2)
      .select("tok", "cnt_a", "cnt_b", "rate_a", "rate_b", "rk")
      .as[(String, Long, Long, Double, Double, Long)].collect().toSet
    assert(got == Set(
      ("spam", 3L, 0L, 0.75, 0.0, 1L),
      ("y", 0L, 1L, 0.0, 0.5, 2L)))
  }

  test("cluster rep: quality and keep-longest rules elect different keepers; singletons self-keep") {
    // docs 1+2 cluster together: doc 1 is longer (6 tokens) but pure
    // stopword repetition (quality 0); doc 2 is shorter but clean
    // (quality 1.0). Doc 3 is a singleton.
    val docs = Seq(
      (1L, "the the the the the the"),
      (2L, "p q r s t"),
      (3L, "u v")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    def keptOf(score: org.apache.spark.sql.Column => org.apache.spark.sql.Column, n: String) =
      llm.DedupQueries.clusterRepOf(docs, pairs, score, n)
        .where(col("kept") === 1).select("doc_id", "cluster_id")
        .as[(Long, Long)].collect().toSet
    assert(keptOf(llm.DedupQueries.qualityScore, "quality") == Set((2L, 1L), (3L, 3L)))
    assert(keptOf(t => size(t).cast("long"), "n_tokens") == Set((1L, 1L), (3L, 3L)))
  }

  test("edit dedup: single-char edit pairs; big length gap is pruned before any DP") {
    val dir = java.nio.file.Files.createTempDirectory("graftspec-edit").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq((1L, base, "en", "s", 10L),
        (2L, base.dropRight(1) + "Z", "en", "s", 10L),   // 1-char substitution
        (3L, base + " " + (1 to 10).map(i => s"pad$i").mkString(" "), "en", "s", 10L),
        (4L, (100 to 130).map(i => s"w$i").mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = llm.DedupQueries.editDedup.run(spark, dir)
      .select("doc_a", "doc_b", "dist", "len_a", "len_b")
      .as[(Long, Long, Long, Long, Long)].collect()
    // only (1,2) qualifies: doc 3 is >10% longer than doc 1 (length
    // prune), doc 4 shares no shingle (no band candidate)
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    val (_, _, dist, lenA, lenB) = got.head
    assert(dist == 1L && lenA == lenB)
    // the invariant the length prune relies on: dist >= |len_a - len_b|
    assert(dist >= math.abs(lenA - lenB))
  }

  test("dedup agreement classes reconcile with the two source pair sets") {
    val dir = "/root/testdata/sf0.001"
    val mh = llm.DedupQueries.minhashLshPairs.run(spark, dir).count()
    val sh = llm.DedupQueries.dedupSimhash.run(spark, dir).count()
    val cls = llm.DedupQueries.dedupAgreement.run(spark, dir)
      .select("method", "n_pairs").as[(String, Long)].collect().toMap
    assert(cls.keySet.subsetOf(Set("both", "minhash_only", "simhash_only")))
    assert(cls.getOrElse("both", 0L) + cls.getOrElse("minhash_only", 0L) == mh)
    assert(cls.getOrElse("both", 0L) + cls.getOrElse("simhash_only", 0L) == sh)
  }

  test("leak-free split: every near-dup cluster lands in exactly one split") {
    val rows = llm.DedupQueries.splitLeakfree.run(spark, "/root/testdata/sf0.001")
      .select("cluster_id", "split").distinct().as[(Long, String)].collect()
    assert(rows.nonEmpty)
    // a cluster appearing under two splits would double its cluster_id here
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("minhash estimate: curve is non-degenerate and orders exact similarity") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.DedupQueries.minhashEstimate.run(spark, dir)
      .select("m", "n_pairs", "mean_j_q").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, n, j) =>
      assert(m >= 0 && m <= 8)
      assert(n >= 1)
      assert(j >= 0 && j <= 1000000)
    }
    // REGRESSION (order-preserving permutation pool): with multipliers
    // too small to wrap P, every candidate pair agreed on ALL
    // components and the curve collapsed to one row. A real estimator
    // spreads candidates across agreement levels...
    assert(rows.length >= 2,
      s"calibration curve degenerate: ${rows.toSeq}")
    // ...and orders them: full agreement must sit at higher exact
    // similarity than the lowest agreement level.
    val byM = rows.sortBy(_._1)
    assert(byM.last._3 > byM.head._3)
  }

  test("pack audit: shard tokens and docs account for the whole corpus") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.CurationQueries.packAudit.run(spark, dir)
      .select("shard_id", "n_docs", "shard_tokens", "fill_q", "n_spill")
      .as[(Long, Long, Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows.map(_._2).sum == docs.count())
    val totalTokens = llm.CurationQueries.tokenPackDf(spark, dir, 2000L)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).as[Long].head()
    assert(rows.map(_._3).sum == totalTokens)
    rows.foreach { case (_, nd, st, fq, sp) =>
      assert(fq == st * 1000000L / 2000L) // fill is exactly the quantized token load
      assert(sp >= 0 && sp <= nd)         // spilling docs are a subset of the shard's docs
    }
  }

  test("quality-dup matrix: every document lands in exactly one cell") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.DedupQueries.qualityDupMatrix.run(spark, dir)
      .select("quality_band", "dup_class", "n_docs").as[(String, String, Long)].collect()
    assert(rows.map(_._3).sum == spark.read.parquet(s"$dir/documents.parquet").count())
    assert(rows.map(_._1).toSet.subsetOf(Set("high", "mid", "low")))
    assert(rows.map(_._2).toSet.subsetOf(Set("unique", "small", "large")))
    // tighter cuts move docs only DOWNWARD in quality, never across dup class
    val t8 = llm.DedupQueries.qualityDupMatrixT8.run(spark, dir)
      .select("dup_class", "n_docs").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val base = rows.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    assert(t8 == base)
  }

  test("centroid drift: cosine bounded, label groups cover every vector") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.SimilarityQueries.centroidDriftLbl.run(spark, dir)
      .select("n_vecs", "drift").as[(Long, Double)].collect()
    assert(rows.map(_._1).sum == spark.read.parquet(s"$dir/embeddings.parquet").count())
    rows.foreach { case (_, dr) => assert(dr >= -1.0 && dr <= 1.0) }
  }

  test("transition matrix: transitions = events minus sessions; tighter gap only cuts") {
    val dir = "/root/testdata/sf0.001"
    def total(q: QueryDef): Long = q.run(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_trans")).as[Long].head()
    val t30 = total(pipelines.AnalyticsQueries.transitionMatrix)
    // every session of n events contributes exactly n-1 transitions
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    val nSessions = pipelines.AnalyticsQueries.sessionize.run(spark, dir).count()
    assert(t30 == nEvents - nSessions)
    // a tighter gap splits sessions, which can only REMOVE transitions
    val t10 = total(pipelines.AnalyticsQueries.transitionMatrixG10)
    assert(t10 <= t30)
    val n10 = pipelines.AnalyticsQueries.sessionizeG10.run(spark, dir).count()
    assert(t10 == nEvents - n10)
  }

  test("lexsem agreement: classes reconcile with the restricted lexical pair set") {
    val dir = "/root/testdata/sf0.001"
    val cls = llm.DedupQueries.lexsemAgreement.run(spark, dir)
      .select("method", "n_pairs").as[(String, Long)].collect().toMap
    assert(cls.keySet.subsetOf(Set("both", "lexical_only", "semantic_only")))
    // lexical classes sum to the embedded-endpoint-restricted LSH pair set
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").as[Long].collect().toSet
    val lexRestricted = llm.DedupQueries.minhashLshPairs.run(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .count { case (a, b) => vecs(a) && vecs(b) }
    assert(cls.getOrElse("both", 0L) + cls.getOrElse("lexical_only", 0L) == lexRestricted)
    // semantic classes sum to the embedding near-dup pair set
    val semTotal = llm.SimilarityQueries.embedNearDup.run(spark, dir).count()
    assert(cls.getOrElse("both", 0L) + cls.getOrElse("semantic_only", 0L) == semTotal)
  }

  test("source funnel: stages only shrink per source; strict filter cuts deeper") {
    val dir = "/root/testdata/sf0.001"
    def byStage(q: QueryDef) = q.run(spark, dir)
      .select("stage", "source", "n_docs", "n_tokens")
      .as[(String, String, Long, Long)].collect()
      .groupBy(_._1).map { case (st, rs) =>
        st -> rs.map(r => r._2 -> ((r._3, r._4))).toMap }
    val f = byStage(llm.CurationQueries.sourceFunnel)
    val docsTotal = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(f("raw").values.map(_._1).sum == docsTotal)
    for ((src, (rd, rt)) <- f("raw")) {
      val (qd2, qt) = f("quality").getOrElse(src, (0L, 0L))
      val (dd2, dt) = f("dedup").getOrElse(src, (0L, 0L))
      assert(qd2 <= rd && qt <= rt, s"quality grew for $src")
      assert(dd2 <= qd2 && dt <= qt, s"dedup grew for $src")
    }
    // the strict config through the parameterized builder (the
    // x_source_funnel_strict registry twin was folded into spec pins)
    val strict = byStage(QueryDef("strict_funnel", (s, dd) =>
      llm.CurationQueries.sourceFunnelDf(s, dd, llm.CurationQueries.GopherRule.Strict), None))
    assert(strict("quality").values.map(_._1).sum <= f("quality").values.map(_._1).sum)
    // raw is filter-independent
    assert(strict("raw") == f("raw"))
  }

  test("retention cohorts: offset 0 is full, cells never exceed cohort, sizes sum to users") {
    val dir = "/root/testdata/sf0.001"
    val rows = pipelines.AnalyticsQueries.retention.run(spark, dir)
      .select(col("cohort_start").cast("string"), col("period_offset"),
        col("n_active"), col("cohort_size"), col("retention_q"))
      .as[(String, Long, Long, Long, Long)].collect()
    // every user is active in their own first period
    rows.filter(_._2 == 0L).foreach { case (_, _, n, cs, rq) =>
      assert(n == cs); assert(rq == 1000000L)
    }
    rows.foreach { case (_, off, n, cs, rq) =>
      assert(off >= 0L && n >= 1L && n <= cs)
      assert(rq == n * 1000000L / cs)
    }
    // cohort sizes partition the user base
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._4).sum == users)
    // weekly cells aggregate daily ones: distinct users can only merge
    val wk = pipelines.AnalyticsQueries.retentionW.run(spark, dir)
    assert(wk.count() <= rows.length)
  }

  test("source sketch: full pair matrix, exact jaccard invariant across sketch widths") {
    val dir = "/root/testdata/sf0.001"
    def grab(q: QueryDef) = q.run(spark, dir)
      .select("source_a", "source_b", "m_agree", "n_a", "n_b", "n_inter", "j_q")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    val p8 = grab(llm.DedupQueries.sourceSketch)
    val p16 = grab(llm.DedupQueries.sourceSketchP16)
    val sources = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().count()
    assert(p8.length == sources * (sources - 1) / 2)
    p8.foreach { case (a, b, m, na, nb, ni, jq) =>
      assert(a < b && m >= 0L && m <= 8L)
      assert(ni <= math.min(na, nb))
      assert(jq == ni * 1000000L / (na + nb - ni))
    }
    p16.foreach { case (_, _, m, _, _, _, _) => assert(m >= 0L && m <= 16L) }
    // the exact columns are sketch-width independent
    val ex8 = p8.map(r => (r._1, r._2) -> ((r._4, r._5, r._6, r._7))).toMap
    val ex16 = p16.map(r => (r._1, r._2) -> ((r._4, r._5, r._6, r._7))).toMap
    assert(ex8 == ex16)
  }

  test("rarity profile: bands partition occurrences, hapax mass reconciles with cf table") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.TextQueries.rarityProfile.run(spark, dir)
      .select("n_tok", "n_hapax", "n_rare", "n_mid", "n_common", "rare_frac_q")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (n, h, r, m, c, fq) =>
      assert(h + r + m + c == n)
      assert(fq == (h + r) * 1000000L / n)
    }
    // Σ n_hapax over docs = number of corpus-unique token occurrences
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hapax = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").count().where(col("count") === 1).count()
    assert(rows.map(_._2).sum == hapax)
    // total occurrences reconcile too
    val occ = docs.select(size(tokens(col("text"))).cast("long")).as[Long].collect().sum
    assert(rows.map(_._1).sum == occ)
  }

  test("semantic sim matrix: full group-pair matrix with cosines in [-1, 1]") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.SimilarityQueries.semanticSim.run(spark, dir)
      .select("grp_a", "grp_b", "n_a", "n_b", "cos_sim")
      .as[(String, String, Long, Long, Double)].collect()
    val sources = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().count()
    assert(rows.length == sources * (sources - 1) / 2)
    rows.foreach { case (a, b, na, nb, cs) =>
      assert(a < b && na >= 1L && nb >= 1L)
      assert(cs >= -1.0 - 1e-12 && cs <= 1.0 + 1e-12)
    }
    val lbl = llm.SimilarityQueries.semanticSimLbl.run(spark, dir)
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("label").distinct().count()
    assert(lbl.count() == labels * (labels - 1) / 2)
  }

  test("session funnel: strictly ordered steps can only lose sessions") {
    val dir = "/root/testdata/sf0.001"
    val rows = pipelines.AnalyticsQueries.sessionFunnel.run(spark, dir)
      .select("step", "n_sessions", "share_q").as[(Int, Long, Long)].collect()
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to rows.length))
    // each later step requires the earlier one completed first
    rows.sliding(2).foreach { case Array((_, n1, _), (_, n2, _)) =>
      assert(n2 <= n1, s"funnel grew: $n1 -> $n2")
    }
    // share is the exact quantized fraction of ALL sessions
    val tot = pipelines.AnalyticsQueries.sessionize.run(spark, dir).count()
    rows.foreach { case (_, n, sq) => assert(sq == n * 1000000L / tot) }
  }

  test("knn purity: components partition the vectors; purity exact and bounded") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.SimilarityQueries.knnPurity.run(spark, dir)
      .select("comp_size", "n_majority", "purity_q").as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).sum == spark.read.parquet(s"$dir/embeddings.parquet").count())
    rows.foreach { case (sz, maj, pq) =>
      assert(maj >= 1 && maj <= sz)
      assert(pq == maj * 1000000L / sz)
      assert(pq > 0 && pq <= 1000000L)
    }
  }

  test("knn triangles: coefficients bounded, per-node counts sum to 3x the triangle set") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.SimilarityQueries.knnTriangles.run(spark, dir)
      .select("deg", "n_tri", "clust_q").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (deg, tri, cq) =>
      assert(deg >= 1 && deg <= 5)          // mutual degree bounded by k
      assert(cq >= 0 && cq <= 1000000)      // exact quantized coefficient in [0, 1]
      // tri counts edge-disjoint triangles at this node: ≤ C(deg, 2)
      assert(tri <= deg * (deg - 1) / 2)
    }
    // every triangle contributes exactly one count at each of its 3 nodes
    assert(rows.map(_._2).sum % 3 == 0)
  }

  test("ivf balance: occupancy accounts for every vector; shares bounded") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.SimilarityQueries.ivfBalanceDf(spark, dir, iters = 1)
      .select("n_vecs", "share_q", "load_q").as[(Long, Long, Long)].collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_._1).sum == total)
    rows.foreach { case (_, share, _) => assert(share >= 0 && share <= 1000000) }
    // load_q is occupancy relative to perfect balance: the cell-count-
    // weighted mean is 1e6 up to integer-division truncation
    val meanLoad = rows.map(_._3).sum / rows.length
    assert(meanLoad > 900000 && meanLoad <= 1000000)
  }

  test("shingle growth: 20-bin curve folds exactly onto the 10-bin curve") {
    val dir = "/root/testdata/sf0.001"
    val g10 = llm.DedupQueries.shingleGrowth.run(spark, dir)
      .select("bin", "n_new_shingles").as[(Long, Long)].collect().toMap
    val g20 = llm.DedupQueries.shingleGrowthB20.run(spark, dir)
      .select("bin", "n_new_shingles").as[(Long, Long)].collect()
    // floor(floor(20x/N)/2) = floor(10x/N): halving the 20-bin ids
    // reproduces the 10-bin histogram exactly — refinement, not reshuffle
    val folded = g20.groupBy(_._1 / 2).map { case (b, rs) => b -> rs.map(_._2).sum }
    assert(folded == g10)
    // the curve ends at the full distinct-shingle vocabulary
    val totalShingles = llm.SharedIndex.sidPostings(spark, dir)
      .select("sid").distinct().count()
    assert(g10.values.sum == totalShingles)
  }

  test("cluster size distribution accounts for every document exactly once") {
    val dir = "/root/testdata/sf0.001"
    val rows = llm.DedupQueries.clusterSizes.run(spark, dir)
      .select("cluster_size", "n_clusters", "n_docs")
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (size, nc, nd) => assert(nd == size * nc) }
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_._3).sum == total)
  }

  test("pmi collocations: exact quantized ratios, count floor, per-lang top-k") {
    val docs = Seq(
      (1L, "en", "new york new york new york new york new york"),
      (2L, "en", "the cat the dog the cat the dog"),
      (3L, "de", "foo bar foo bar foo bar")
    ).toDF("doc_id", "lang", "text")
    // en: B=16; uni new=5 york=5 the=4 cat=2 dog=2
    //   n_pair>=2: "new york"=5 (5*16/25=3.2), "york new"=4 (2.56),
    //   "the cat"=2, "cat the"=2, "the dog"=2 (all 2*16/8=4.0, gram-asc ties)
    // de: B=5; "foo bar"=3 (3*5/9=1.666..), "bar foo"=2 (10/9=1.111..)
    val got = llm.TextQueries.pmiTopkOf(docs, minCount = 2L, k = 10)
      .select("lang", "gram", "pmi_q6", "rnk")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", "cat the", 4000000L, 1L), ("en", "the cat", 4000000L, 2L),
      ("en", "the dog", 4000000L, 3L), ("en", "new york", 3200000L, 4L),
      ("en", "york new", 2560000L, 5L),
      ("de", "foo bar", 1666667L, 1L), ("de", "bar foo", 1111111L, 2L)))
    // the floor prunes BEFORE scoring: at minCount=5 only "new york" survives
    val floored = llm.TextQueries.pmiTopkOf(docs, minCount = 5L, k = 10)
      .select("lang", "gram", "rnk").as[(String, String, Long)].collect().toSet
    assert(floored == Set(("en", "new york", 1L)))
    // per-language top-k must compile to WindowGroupLimit (partial
    // top-k below the exchange), same contract as ngram topk
    val q = llm.TextQueries.pmiCollocations.run(spark, "/root/testdata/sf0.001")
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-language PMI top-k did not compile to WindowGroupLimit")
  }

  test("gap histogram: exact bucket edges, per-type shares, cumulative closes at 1e6") {
    val ev = Seq(
      (0L, 1L, "click", 0L),
      (1L, 1L, "click", 1000000L),           // gap exactly 1s  -> le_1s (inclusive edge)
      (2L, 1L, "click", 11000000L),          // gap exactly 10s -> le_10s
      (3L, 1L, "click", 10011000001L),       // gap 1e10+1 us   -> gt_10000s
      (4L, 2L, "view", 0L),
      (5L, 2L, "click", 5000000L),           // user-stream gap 5s -> le_10s
      (6L, 2L, "view", 6000000L)             // user-stream gap 1s; view-stream gap 6s
    ).toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val base = pipelines.AnalyticsQueries.gapHistogramOf(ev, byType = false)
      .select("event_type", "bucket", "n_gaps", "share_q", "cum_share_q")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(base == Set(
      ("click", "le_1s", 1L, 250000L, 250000L),
      ("click", "le_10s", 2L, 500000L, 750000L),
      ("click", "gt_10000s", 1L, 250000L, 1000000L),
      ("view", "le_1s", 1L, 1000000L, 1000000L)))
    // the per-type stream key re-buckets u2's view gap from 1s to 6s
    // and drops u2's single-click stream entirely
    val byType = pipelines.AnalyticsQueries.gapHistogramOf(ev, byType = true)
      .select("event_type", "bucket", "n_gaps").as[(String, String, Long)].collect().toSet
    assert(byType == Set(
      ("click", "le_1s", 1L), ("click", "le_10s", 1L), ("click", "gt_10000s", 1L),
      ("view", "le_10s", 1L)))
    // registry-level conservation on real data: gaps = events − streams
    val dir = "/root/testdata/sf0.001"
    val evs = spark.read.parquet(s"$dir/events.parquet")
    val totBase = pipelines.AnalyticsQueries.gapHistogram.run(spark, dir)
      .agg(sum("n_gaps")).as[Long].head()
    assert(totBase == evs.count() - evs.select("user_id").distinct.count())
    val totType = pipelines.AnalyticsQueries.gapHistogramByType.run(spark, dir)
      .agg(sum("n_gaps")).as[Long].head()
    assert(totType == evs.count() - evs.select("user_id", "event_type").distinct.count())
  }

  test("quant recall: coarse=fine scale is perfect recall; coarse overlap is bounded") {
    val dir = "/root/testdata/sf0.001"
    // the audit against ITSELF: coarse scale 1000 replays the fine
    // chain exactly, so every query must report 5/5
    val self = llm.SimilarityQueries.quantRecallOf(spark, dir, coarse = 1000)
      .select("n_common", "recall_q").as[(Long, Long)].collect()
    assert(self.nonEmpty && self.forall(r => r._1 == 5L && r._2 == 1000000L))
    val c8 = llm.SimilarityQueries.quantRecall.run(spark, dir)
      .select("query_id", "n_common", "recall_q").as[(Long, Long, Long)].collect()
    assert(c8.length == self.length) // one row per query, misses included
    c8.foreach { case (_, n, rq) =>
      assert(n >= 0L && n <= 5L && rq == n * 1000000L / 5L)
    }
  }

  test("data card: covers the corpus; strict config only moves the pass rate") {
    val dir = "/root/testdata/sf0.001"
    def card(q: QueryDef) = q.run(spark, dir)
      .select("source", "n_docs", "n_tokens", "dom_lang", "dom_lang_share_q",
        "gopher_pass_q", "dup_doc_q", "eff_tokens_q")
      .as[(String, Long, Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val base = card(llm.CurationQueries.dataCard)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(base.values.map(_._2).sum == docs.count())
    base.values.foreach { case (src, n, nt, _, domQ, passQ, dupQ, effQ) =>
      assert(domQ > 0L && domQ <= 1000000L, s"$src dominance")
      assert(passQ >= 0L && passQ <= 1000000L && dupQ >= 0L && dupQ <= 1000000L)
      // effective mass can only be discounted, and only dup docs discount it
      assert(effQ <= nt * 1000000L, s"$src effective mass")
      if (dupQ == 0L) assert(effQ == nt * 1000000L, s"$src no-dup source undiscounted")
      assert(n > 0L)
    }
    // the strict gate may only LOWER pass rates; every other column is
    // gate-invariant (pins that the parameter reaches only the filter)
    val strict = card(llm.CurationQueries.dataCardStrict)
    assert(strict.keySet == base.keySet)
    for ((src, b) <- base) {
      val s2 = strict(src)
      assert(s2._6 <= b._6, s"$src strict pass rate grew")
      assert((s2._2, s2._3, s2._4, s2._5, s2._7, s2._8) ==
        ((b._2, b._3, b._4, b._5, b._7, b._8)), s"$src non-gate column moved")
    }
  }

  test("bpe merges: weighted overlapping pair counts; greedy left-to-right merge round") {
    val docs = Seq((1L, "aaa aaa ab"), (2L, "aaa b")).toDF("doc_id", "text")
    // vocab: aaa×3, ab×1, b×1. Round 1 pairs: 'aa' appears at two
    // positions per 'aaa' (overlapping convention) = 6; 'ab' = 1.
    val r1 = llm.TextQueries.bpeMergesOf(docs, k = 10)
      .as[(String, Long, Long)].collect().toSet
    assert(r1 == Set(("aa", 6L, 1L), ("ab", 1L, 2L)))
    // merge 'aa' greedily: 'aaa' -> [aa, a] (ONE merged symbol, not two
    // overlapping) so round 2 counts 'aa+a'=3 and 'a+b'=1
    val r2 = llm.TextQueries.bpeMergesR2Of(docs, k = 10)
      .as[(String, Long, Long)].collect().toSet
    assert(r2 == Set(("aa+a", 3L, 1L), ("a+b", 1L, 2L)))
  }

  test("bpe merge table: three hand-derived rounds — the from-scratch recount pin") {
    // vocab: aaab×3 (2 in s1 + 1 in s2), cd×1.
    // round 1: 'aa' 2 positions × 3 = 6 (vs 'ab' 3, 'cd' 1) -> merge aa
    // round 2 on {Zab×3, cd}: 'Za'=3 ties 'ab'=3, 'Z' sorts first -> Za
    // round 3 on {Yb×3, cd}: 'Yb'=3 -> merge, decoded aaa+b
    val docs = Seq((1L, "s1", "aaab aaab"), (2L, "s2", "aaab cd"))
      .toDF("doc_id", "source", "text")
    val table = llm.TextQueries.bpeMergeTableOf(docs, rounds = 3)
      .as[(Long, String, Long)].collect().toSet
    assert(table == Set((1L, "a+a", 6L), (2L, "aa+a", 3L), (3L, "aaa+b", 3L)))
  }

  test("cc incremental: a delta doc merges two published components through the quotient") {
    // published components over base docs {1,2} and {3,4} (labels 1, 3);
    // delta doc 10 pairs with 2 AND 3 -> everything merges to label 1.
    // Delta doc 20 pairs only with 21 (delta-delta), label 20; delta
    // doc 30 is pair-free and labels itself.
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 20L, 21L, 30L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 10L), (10L, 3L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = llm.DedupQueries.ccIncrementalFrom(docs, pairs, c => c >= 10)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
    // churn diff: {3,4} moved (their component merged under label 1);
    // every delta doc is new; the untouched {1,2} are ABSENT
    val churn = llm.DedupQueries.clusterChurnFrom(docs, pairs, c => c >= 10)
      .as[(Long, Option[Long], Long, String)].collect().toSet
    assert(churn == Set(
      (3L, Some(3L), 1L, "moved"), (4L, Some(3L), 1L, "moved"),
      (10L, None, 1L, "new"), (20L, None, 20L, "new"),
      (21L, None, 20L, "new"), (30L, None, 30L, "new")))
  }

  test("bpe encode: per-source symbol mass under the trained merges") {
    // after 2 rounds (aa->Z, Za->Y): aaab encodes to Yb (2 symbols),
    // cd stays cd. s1 = 2×aaab: 8 chars -> 4 symbols (q=500000);
    // s2 = aaab+cd: 6 chars -> 4 symbols (q=666666)
    val docs = Seq((1L, "s1", "aaab aaab"), (2L, "s2", "aaab cd"))
      .toDF("doc_id", "source", "text")
    val got = llm.TextQueries.bpeEncodeOf(docs, rounds = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("s1", 8L, 4L, 500000L), ("s2", 6L, 4L, 666666L)))
  }

  test("mirror docs: only cross-source groups; raw config splits whitespace variants") {
    val docs = Seq(
      (1L, "a  b", "s1"), (2L, "a b", "s2"), (3L, "a b", "s1"),
      (4L, "unique text", "s1"), (5L, "solo dup", "s1"), (6L, "solo dup", "s1")
    ).toDF("doc_id", "text", "source")
    // normalized: docs 1,2,3 collapse to one group spanning s1+s2;
    // docs 5,6 duplicate WITHIN s1 only -> excluded (not a mirror)
    val norm = llm.DedupQueries.mirrorDocsOf(docs, normalize = true)
      .select("n_docs", "n_sources", "sources", "rep_doc_id")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(norm == Set((3L, 2L, "s1,s2", 1L)))
    // raw: doc 1's double space splits it out; docs 2,3 still mirror
    val raw = llm.DedupQueries.mirrorDocsOf(docs, normalize = false)
      .select("n_docs", "n_sources", "sources", "rep_doc_id")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(raw == Set((2L, 2L, "s1,s2", 2L)))
  }

  test("dup weights: every doc weighted, family mass conserved, cap only raises") {
    val dir = "/root/testdata/sf0.001"
    val w = llm.DedupQueries.dupWeights.run(spark, dir)
      .select("doc_id", "cluster_size", "n_toks", "weight_q", "eff_tokens_q")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(w.length == spark.read.parquet(s"$dir/documents.parquet").count())
    w.foreach { case (id, cs, nt, wq, eq) =>
      assert(wq == 1000000L / cs, s"doc $id weight")
      assert(eq == nt * 1000000L / cs, s"doc $id eff tokens")
    }
    // each family's total weight is ~one doc's worth (exact division floor)
    val singles = w.filter(_._2 == 1L)
    assert(singles.nonEmpty && singles.forall(_._4 == 1000000L))
    // the cap can only RAISE a weight, and binds exactly above cap size
    val capped = llm.DedupQueries.dupWeightsCap4.run(spark, dir)
      .select("doc_id", "cluster_size", "weight_q").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    w.foreach { case (id, cs, _, wq, _) =>
      val (cs2, wq2) = capped(id)
      assert(cs2 == cs)
      assert(wq2 == 1000000L / math.min(cs, 4L))
      assert(wq2 >= wq)
    }
  }

  test("planesFor: pins the measured r-law anchors and the constant-occupancy contract") {
    import llm.SimilarityQueries.planesFor
    // The three KnnProbe-measured points (TESTDATA.md round-13 wave):
    // rBase=8 anchored at the sf0.1 corpus (2000 vectors); sf1 (20k)
    // measured equal-yield at r=11, sf10 (200k) at r=15.
    assert(planesFor(2000L) == 8)
    assert(planesFor(20000L) == 11)
    assert(planesFor(200000L) == 15)
    // Gate-scale resolutions the x_knn_graph_rlaw oracle relies on:
    // 500 vectors (sf0.001/sf0.01) sits exactly 2 decades of 2 below
    // the anchor -> r=6; 2M (a future sf100) -> 18, still under the
    // oracle's rMax=20 validity bound.
    assert(planesFor(500L) == 6)
    assert(planesFor(2000000L) == 18)
    // Constant-occupancy contract: expected bucket occupancy N/2^r
    // stays within sqrt(2) of the anchor's (rounding contributes at
    // most half a doubling) across 6 decades.
    val anchor = 2000.0 / (1 << 8)
    Seq(200L, 2000L, 63000L, 500000L, 7000000L, 200000000L).foreach { n =>
      val occ = n.toDouble / math.pow(2.0, planesFor(n))
      assert(occ <= anchor * math.sqrt(2.0) + 1e-9 && occ >= anchor / math.sqrt(2.0) - 1e-9,
        s"occupancy drifted at n=$n: $occ vs anchor $anchor")
    }
    // Floors/caps: tiny corpora floor at r=1; astronomical ones cap at
    // the 62 sign bits a long bucket holds.
    assert(planesFor(1L) == 1)
    assert(planesFor(Long.MaxValue) == 60) // 8 + log2(2^63/2000) ≈ 60 — still under the cap
    assert(planesFor(Long.MaxValue, rBase = 20, nBase = 1L) == 62) // cap: bucket bits must fit a long
    intercept[IllegalArgumentException](planesFor(0L))
  }
}
