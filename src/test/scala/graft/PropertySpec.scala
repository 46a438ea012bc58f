package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.Relational._

/** Property-based tests (SURVEY §5.3) via raw ScalaCheck: dedup
  * idempotence, EAV pivot/unpivot round-trip, coalesce-chain ordering.
  * Spark actions inside properties are expensive, so each property
  * batches its sample inputs into ONE DataFrame and checks all rows in
  * a single job.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, n: Int = 30): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  test("D1 dedup is idempotent and output-distinct for arbitrary row multisets") {
    val genRows = Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.oneOf("a", "b", "c")))
    check(Prop.forAll(genRows) { rows =>
      val df = rows.toDF("x", "y")
      val once = dedup(df).collect().toSet
      val twice = dedup(dedup(df)).collect().toSet
      val expected = rows.distinct.size
      once.size == expected && twice == once
    }, n = 10)
  }

  test("G3 EAV pivot round-trip: every written key reads back, absent keys read \"\"") {
    val genKv = Gen.listOfN(5, Gen.zip(Gen.identifier.map(_.take(8)), Gen.alphaNumStr.map(_.take(6))))
      .map(kvs => kvs.toMap.toList) // distinct keys (map_from_entries is strict under ANSI)
    check(Prop.forAll(genKv) { kvs =>
      kvs.isEmpty || {
        val eav = array(kvs.map { case (k, v) =>
          struct(lit(k).as("FIELD_NAME"), lit(v).as("FIELD_VALUE"))
        }: _*)
        val cols = kvs.map { case (k, _) => eavGet(col("cf"), k) } :+
          eavGet(col("cf"), "__definitely_absent__")
        val row = Seq(1).toDF("i").withColumn("cf", pivotEav(eav))
          .select(cols: _*).head()
        kvs.zipWithIndex.forall { case ((_, v), i) => row.getString(i) == v } &&
          row.getString(kvs.size) == ""
      }
    }, n = 15)
  }

  test("P2 coalesce-chain ordering: first non-null wins, empty-string default last") {
    val genOpts = Gen.zip(Gen.option(Gen.alphaStr.map(_.take(4))),
      Gen.option(Gen.alphaStr.map(_.take(4))))
    check(Prop.forAll(genOpts) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(coalesce(col("a"), col("b"), lit("")).as("r")).head().getString(0)
      got == a.orElse(b).getOrElse("")
    }, n = 15)
  }

  // timestamps clustered around band multiples of the 100s tolerance so
  // boundary/edge cases (exactly-on-band, ±1µs, negative epochs) are hit
  private val genEventTs: Gen[Long] = for {
    b <- Gen.choose(-3L, 3L)
    off <- Gen.oneOf(Gen.choose(-2L, 2L), Gen.choose(-100000000L, 100000000L))
  } yield b * 100000000L + off

  test("range join equals the naive inequality join on arbitrary clustered timestamps") {
    val genRows = Gen.listOfN(24, Gen.zip(Gen.choose(1L, 3L), genEventTs))
    check(Prop.forAll(genRows) { rows =>
      val withIds = rows.zipWithIndex.map { case ((k, us), i) => (i.toLong, k, us) }
      val df = withIds.toDF("id", "k", "us")
        .select(col("id"), col("k"), timestamp_micros(col("us")).as("ts"))
      val a = df.select(col("id").as("id_a"), col("k"), col("ts").as("ts_a"))
      val b = df.select(col("id").as("id_b"), col("k").as("k_b"), col("ts").as("ts_b"))
      val banded = graft.operators.RangeJoin
        .rangeJoin(a, b.withColumnRenamed("k_b", "k"), "k", "ts_a", "ts_b", 100L)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = (for {
        (ia, ka, ta) <- withIds
        (ib, kb, tb) <- withIds
        if ka == kb && math.abs(tb - ta) <= 100000000L
      } yield (ia, ib)).toSet
      banded == naive
    }, n = 10)
  }

  test("chunking covers every token and overlaps consecutive chunks by exactly 8") {
    val genLen = Gen.oneOf(Gen.choose(0, 45), Gen.choose(30, 140),
      Gen.oneOf(39, 40, 41, 71, 72, 73, 104))
    check(Prop.forAll(Gen.listOfN(6, genLen)) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(j => s"w$j").mkString(" "))
      }.toDF("doc_id", "text")
      val chunks = graft.llm.CurationQueries.chunkDf(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      lens.zipWithIndex.forall { case (n, i) =>
        val cs = chunks(i.toLong)
        val toks = cs.map(_.split(" ").filter(_.nonEmpty).toSeq)
        // coverage: concatenating chunks minus overlaps = the doc
        val rebuilt = toks.head ++ toks.tail.flatMap(_.drop(8))
        val expected = (1 to n).map(j => s"w$j")
        rebuilt == expected &&
          // overlap: each later chunk starts with the previous one's last 8
          toks.sliding(2).forall {
            case Seq(a, b) => b.take(8) == a.takeRight(8)
            case _ => true
          }
      }
    }, n = 10)
  }

  test("exact-substring cut equals a brute-force scala reference on random corpora") {
    // tiny vocabulary forces cross-doc and within-doc repeats
    val genDoc = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val gram = 3
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, "en", t) }
        .toDF("doc_id", "lang", "text")
      val got = graft.llm.TextQueries.exactSubstrCutOf(docs, gram, minOcc = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      // reference: count every gram occurrence corpus-wide, mark covered
      // positions, rebuild survivors per doc
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toVector)
      val occs = toks.zipWithIndex.flatMap { case (ts, d) =>
        (0 to ts.length - gram).map(i => (ts.slice(i, i + gram).mkString(" "), d, i))
      }
      val counts = occs.groupBy(_._1).view.mapValues(_.size).toMap
      val covered = occs.filter(o => counts(o._1) >= 2)
        .flatMap { case (_, d, i) => (i until i + gram).map(p => (d, p)) }.toSet
      val ref = toks.zipWithIndex.map { case (ts, d) =>
        val kept = ts.zipWithIndex.collect { case (t, p) if !covered((d, p)) => t }
        (d.toLong + 1) -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }.toMap
      got == ref
    }, n = 8)
  }

  test("composed gram hash equals the direct char fold over the gram string") {
    // The winnow/span family rebuilds k-gram hashes from per-token
    // (th, tp) states (TextOps.gramHashes); this pins the algebraic
    // identity f(s ++ " " ++ t) = ((f(s)·31+32)·31^|t| + f(t)) mod P
    // against the character-level fold the DuckDB oracles still use —
    // including long tokens (overflow headroom) and digit runs — and
    // that exactly the complete windows come back.
    val genTok = Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'z') ++ ('0' to '9'))).map(_.mkString))
    val genDoc = Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, genTok))
    check(Prop.forAll(Gen.listOfN(3, genDoc), Gen.choose(2, 4)) { (docsToks, gram) =>
      Prop(docsToks.forall(_.size >= gram)) ==> Prop {
        val docs = docsToks.zipWithIndex.map { case (ts, i) =>
          (i.toLong + 1, "en", ts.mkString(" ")) }.toDF("doc_id", "lang", "text")
        val composed = graft.llm.TextOps
          .gramHashes(graft.llm.TextOps.tokenHashFrame(docs), gram)
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
        val P = graft.llm.TextOps.HashMod
        val ref = docsToks.zipWithIndex.flatMap { case (ts, d) =>
          (0 to ts.size - gram).map { i =>
            val g = ts.slice(i, i + gram).mkString(" ")
            (d.toLong + 1, i) -> g.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % P)
          }
        }.toMap
        composed == ref
      }
    }, n = 12)
  }

  test("rare-overlap near-dup pairs equal a brute-force scala reference on random corpora") {
    // docs drawn from a tiny vocabulary so near-dups, exact dups, AND
    // df-capped common shingles all occur; the reference mirrors the
    // family's candidate contract exactly (a pair sharing ONLY
    // df > 8 shingles is out of scope on both sides)
    val genDoc = Gen.choose(3, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    check(Prop.forAll(Gen.listOfN(12, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
        .toDF("doc_id", "text")
      val post = graft.llm.TextOps.shinglePostings(docs, 3)
        .withColumnRenamed("shingle", "sid")
      val got = graft.llm.DedupQueries.jaccardVerified(
          graft.llm.DedupQueries.pairOverlaps(post,
            graft.llm.DedupQueries.rareShingleCandidates(post)))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      // reference: distinct trigram sets, df over docs, rare-candidate
      // scope, exact overlap/union threshold 5·ov >= 4·union
      val sh: Map[Long, Set[String]] = texts.zipWithIndex.map { case (t, i) =>
        val ts = t.split(" ").filter(_.nonEmpty).toVector
        (i.toLong + 1) -> (0 to ts.length - 3).map(j => ts.slice(j, j + 3).mkString(" ")).toSet
      }.toMap
      val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val ids = sh.keys.toSeq.sorted
      val ref = (for {
        a <- ids; b <- ids if a < b
        shared = sh(a) intersect sh(b)
        if shared.exists(s => df(s) <= 8)
        ov = shared.size.toLong
        na = sh(a).size.toLong; nb = sh(b).size.toLong
        if 5 * ov >= 4 * (na + nb - ov)
      } yield (a, b) -> ((ov, na, nb))).toMap
      got == ref
    }, n = 8)
  }

  test("ngram topk equals a brute-force scala reference on random corpora") {
    val genDoc = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val (n, k) = (2, 4)
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, "en", t) }
        .toDF("doc_id", "lang", "text")
      val got = graft.llm.TextQueries.ngramTopkOf(docs, n, k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val grams = texts.flatMap { t =>
        val ts = t.split(" ").filter(_.nonEmpty)
        (0 to ts.length - n).map(i => ts.slice(i, i + n).mkString(" "))
      }
      val ref = grams.groupBy(identity).view.mapValues(_.size.toLong).toList
        .sortBy { case (g, c) => (-c, g) }.take(k).zipWithIndex
        .map { case ((g, c), i) => ("en", g, c, i.toLong + 1) }.toSet
      got == ref
    }, n = 8)
  }

  test("as-of join equals the per-row scala reference on arbitrary clustered timestamps") {
    val genL = Gen.listOfN(12, Gen.zip(Gen.choose(1L, 3L), genEventTs))
    val genR = Gen.listOfN(12, Gen.zip(Gen.choose(1L, 3L), genEventTs))
    check(Prop.forAll(Gen.zip(genL, genR)) { case (lRows, rRows) =>
      val l = lRows.zipWithIndex.map { case ((k, us), i) => (i.toLong, k, us) }
      // right side unique per (key, ts) — the operator's contract
      val r = rRows.distinctBy(x => (x._1, x._2))
        .zipWithIndex.map { case ((k, us), i) => (1000L + i, k, us) }
      val lDf = l.toDF("event_id", "user_id", "us")
        .select(col("event_id"), col("user_id"), timestamp_micros(col("us")).as("ts"))
      val rDf = r.toDF("rid", "user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("rid"))
      val got = graft.operators.AsOfJoin
        .asofJoin(lDf, rDf, "user_id", "ts", Seq("rid"))
        .select("event_id", "prior_rid").collect()
        .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
      val ref = l.map { case (id, k, us) =>
        val cand = r.filter(x => x._2 == k && x._3 <= us)
        id -> (if (cand.isEmpty) None else Some(cand.maxBy(_._3)._1))
      }.toMap
      got == ref
    }, n = 10)
  }

  test("interval join equals the naive overlap join, including intervals longer than the band") {
    val genIv = for {
      k <- Gen.choose(1L, 3L)
      s <- Gen.choose(0L, 20L)
      // lengths -5..10 s vs a 4 s band: covers INVERTED intervals
      // (end < start — accepted, matches the naive join; see the
      // operator scaladoc), point intervals, the ≤band contract, AND
      // the longer-than-band graceful path
      len <- Gen.oneOf(Gen.choose(0L, 3L), Gen.oneOf(-5L, 0L, 5L, 10L))
    } yield (k, s, s + len)
    check(Prop.forAll(Gen.zip(Gen.listOfN(10, genIv), Gen.listOfN(10, genIv))) { case (ls, rs) =>
      val l = ls.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s * 1000000L, e * 1000000L) }
      val r = rs.zipWithIndex.map { case ((k, s, e), i) => (100L + i, k, s * 1000000L, e * 1000000L) }
      val lDf = l.toDF("lid", "key", "ls", "le")
      val rDf = r.toDF("rid", "key", "rs_", "re_")
      val got = graft.operators.IntervalJoin.intervalJoin(
          lDf, rDf, key = "key", lStartUs = "ls", lEndUs = "le",
          rStartUs = "rs_", rEndUs = "re_", bandSec = 4L)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      // the id-based (narrow-exchange) form must agree row for row
      val gotById = graft.operators.IntervalJoin.intervalJoinById(
          lDf, rDf, key = "key", lId = "lid", rId = "rid",
          lStartUs = "ls", lEndUs = "le",
          rStartUs = "rs_", rEndUs = "re_", bandSec = 4L)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val ref = (for {
        a <- l; b <- r
        if a._2 == b._2 && a._3 <= b._4 && b._3 <= a._4
      } yield (a._1, b._1)).toSet
      got == ref && gotById == ref
    }, n = 10)
  }

  test("passage dedup equals a brute-force scala reference on random corpora") {
    // tiny vocabulary forces cross-doc (and cross-position) chunk collisions
    val genDoc = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val c = 3
    check(Prop.forAll(Gen.listOfN(5, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, "en", t) }
        .toDF("doc_id", "lang", "text")
      val got = graft.llm.DedupQueries.passageDedupOf(docs, c)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      // reference: ceil-split into c-token chunks (empty doc = one ""
      // chunk, same as the chunker), keep min (doc, chunk) per content
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toVector)
      val chunks = toks.zipWithIndex.flatMap { case (ts, d0) =>
        val n = ts.length
        val maxK = if (n <= c) 0 else (n - c + c - 1) / c
        (0 to maxK).map(k =>
          (d0.toLong + 1, k.toLong, ts.slice(k * c, math.min(k * c + c, n)).mkString(" ")))
      }
      val firstOf = chunks.groupBy(_._3).view.mapValues(_.minBy(x => (x._1, x._2))).toMap
      val ref = toks.indices.map { d0 =>
        val d = d0.toLong + 1
        val mine = chunks.filter(_._1 == d)
        val kept = mine.filter(ch => firstOf(ch._3) == ch).sortBy(_._2)
        d -> ((mine.size.toLong, kept.size.toLong, kept.map(_._3).mkString(" ")))
      }.toMap
      got == ref
    }, n = 8)
  }

  test("skipgram topk equals a brute-force forward-window reference on random corpora") {
    val genDoc = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val (w, k) = (2, 6)
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, "en", t) }
        .toDF("doc_id", "lang", "text")
      val got = graft.llm.TextQueries.skipgramTopkOf(docs, w, k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val prs = texts.flatMap { t =>
        val ts = t.split(" ").filter(_.nonEmpty)
        ts.indices.flatMap(i =>
          ((i + 1) to math.min(i + w, ts.length - 1)).map(j => (ts(i), ts(j))))
      }
      val ref = prs.groupBy(identity).view.mapValues(_.size.toLong).toList
        .sortBy { case ((a, b), n) => (-n, a, b) }.take(k).zipWithIndex
        .map { case (((a, b), n), i) => (a, b, n, i.toLong + 1) }.toSet
      got == ref
    }, n = 8)
  }

  test("dup profile equals a brute-force trigram-df reference on random corpora") {
    val genDoc = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val minDf = 2
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { texts =>
      // dupProfileOf reads a directory (it runs on the shared postings
      // index); each sample gets its own temp dir = its own tiny index
      val dir = java.nio.file.Files.createTempDirectory("dupprof_prop").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = graft.llm.DedupQueries.dupProfileOf(spark, dir, minDf)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val sh = texts.map(_.split(" ").filter(_.nonEmpty).toVector)
        .map(ts => (0 to ts.length - 3).map(i => ts.slice(i, i + 3).mkString(" ")).toSet)
      val df_ = sh.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val ref = sh.indices.map { d0 =>
        val n = sh(d0).size.toLong
        val shared = sh(d0).count(g => df_(g) >= minDf).toLong
        (d0.toLong + 1) -> ((n, shared, if (n == 0) 0L else shared * 1000000L / n))
      }.toMap
      got == ref
    }, n = 5)
  }

  test("gopher symbols rule equals a brute-force scala reference on random noisy texts") {
    // vocabulary deliberately rich in the rule's edge cases: hashes
    // inside words, '..' non-ellipses, 5-dot runs (ONE non-overlapping
    // '...'), bullet markers mid-line (not counted) and line-leading
    // (counted, incl. after indent)
    val genTok = Gen.oneOf("w1", "x", "#", "...", "-", "*", "•", "a#b", "..", ".....")
    val genLine = for {
      indent <- Gen.oneOf("", "  ")
      n <- Gen.choose(0, 5)
      toks <- Gen.listOfN(n, genTok)
    } yield indent + toks.mkString(" ")
    val genText = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genLine).map(_.mkString("\n")))
    val (symNum, symDen, bulNum, bulDen) = (1, 10, 9, 10)
    check(Prop.forAll(Gen.listOfN(6, genText)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
        .toDF("doc_id", "text")
      val got = graft.llm.CurationQueries
        .gopherSymbolsDf(docs, symNum, symDen, bulNum, bulDen)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
        .toMap
      val ref = texts.zipWithIndex.map { case (t, i) =>
        val nWords = "[a-z0-9]+".r.findAllIn(t.toLowerCase).length.toLong
        val nHash = t.count(_ == '#').toLong
        var (j, nEll) = (0, 0L)
        while ({ val k = t.indexOf("...", j); k >= 0 && { nEll += 1; j = k + 3; true } }) ()
        val nSym = nHash + nEll
        val lines = t.split("\n", -1)
        val nLines = lines.length.toLong
        val nBullet = lines.count { l =>
          val s = l.dropWhile(_ == ' ')
          s.startsWith("-") || s.startsWith("*") || s.startsWith("•")
        }.toLong
        val symRatio = if (nWords == 0) 0.0 else nSym.toDouble / nWords
        val bulFrac = if (nLines == 0) 0.0 else nBullet.toDouble / nLines
        val kept = if (nSym * symDen <= nWords * symNum &&
          nBullet * bulDen <= nLines * bulNum) 1L else 0L
        (i.toLong + 1) -> ((nWords, nLines, symRatio, bulFrac, kept))
      }.toMap
      got == ref
    }, n = 8)
  }
}
