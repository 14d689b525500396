package graft.operators

import org.apache.spark.sql.functions.{col, expr}

import graft.SparkSpec

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark spark spark engine"),
    (2L, "spark engine engine"),
    (3L, "rare term here"),
    (4L, "nothing relevant at all"))
    .toDF("doc_id", "text")

  test("postings: one row per (term, doc) with tf") {
    val p = Search.postings(docs)
      .as[(String, Long, Long)].collect()
      .map { case (t, d, tf) => ((t, d), tf) }.toMap
    assert(p(("spark", 1L)) == 3L)
    assert(p(("spark", 2L)) == 1L)
    assert(p(("engine", 2L)) == 2L)
  }

  test("inverted index: postings completeness — every (doc, term) appears once") {
    val docsDf = spark.read.parquet(s"$sf001/documents.parquet")
    val idx = Search.invertedIndex(docsDf)
    val totalPostings = idx.agg(org.apache.spark.sql.functions
      .sum("doc_freq")).as[Long].head()
    val distinctPairs = Search.postings(docsDf).count()
    assert(totalPostings == distinctPairs)
    // posting lists are doc-sorted
    val first = idx.orderBy("term").select("postings")
      .as[Seq[(Long, Long)]].head()
    assert(first.map(_._1) == first.map(_._1).sorted)
  }

  test("tf-idf search ranks tf-heavy docs first, rare terms weigh more") {
    val hits = Search.search(docs, Seq("spark", "rare"), k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect()
    val scores = hits.toMap
    assert(scores(1L) > scores(2L)) // higher tf on same term
    // 'rare' appears in 1/4 docs vs 'spark' in 2/4 → idf doubles
    assert(scores(3L) == 1.0 * (4.0 / 1.0))
    assert(!scores.contains(4L))
  }

  test("bm25 matches the hand-computed Robertson/Lucene formula") {
    val out = Search.bm25(docs, Seq("spark"), k = 4)
      .as[(Long, Double, Long)].collect().map(t => t._1 -> t._2).toMap
    // N=4, df=2, idf = ln(1 + (4-2+0.5)/(2+0.5)) = ln 2; dl: 4,3;
    // avgdl = (4+3+3+4)/4 = 3.5
    val idf = math.log(2.0)
    def s(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))
    assert(math.abs(out(1L) - s(3, 4)) < 1e-9)
    assert(math.abs(out(2L) - s(1, 3)) < 1e-9)
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("bm25 rank properties: tf monotone, length-normalized, " +
    "idf-weighted, saturating below idf*(k1+1)") {
    // tf monotonicity at equal dl
    val tfCorpus = Seq((1L, "x a b c"), (2L, "x x b c"), (3L, "x x x c"))
      .toDF("doc_id", "text")
    val tfOrder = Search.bm25(tfCorpus, Seq("x"), 3)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(tfOrder == Seq(3L, 2L, 1L), s"tf monotonicity broke: $tfOrder")
    // length normalization at equal tf
    val lenCorpus = Seq((1L, "x a"), (2L, "x a b c d e"))
      .toDF("doc_id", "text")
    val lenOrder = Search.bm25(lenCorpus, Seq("x"), 2)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(lenOrder == Seq(1L, 2L), s"length normalization broke: $lenOrder")
    // idf: same tf and dl, rarer term outscores the common one
    val idfCorpus = Seq((1L, "rare common"), (2L, "common pad2"),
      (3L, "common pad3")).toDF("doc_id", "text")
    val rareScore = Search.bm25(idfCorpus, Seq("rare"), 3)
      .as[(Long, Double, Long)].collect().head._2
    val commonScore = Search.bm25(idfCorpus, Seq("common"), 3)
      .as[(Long, Double, Long)].collect()
      .find(_._1 == 1L).get._2
    assert(rareScore > commonScore,
      s"idf weighting broke: rare=$rareScore common=$commonScore")
    // saturation: even tf=50 stays strictly below idf*(k1+1)
    val satCorpus = Seq((1L, Seq.fill(50)("x").mkString(" ")),
      (2L, "y only here")).toDF("doc_id", "text")
    val sat = Search.bm25(satCorpus, Seq("x"), 2)
      .as[(Long, Double, Long)].collect().head._2
    val bound = math.log(1.0 + (2 - 1 + 0.5) / 1.5) * 2.2
    assert(sat > 0 && sat < bound, s"saturation bound broke: $sat !< $bound")
  }

  test("bm25RankAudit: production rank equals the exact-integer-ratio " +
    "rank (certificates TRUE), ties break by doc_id on both paths") {
    // docs 2 and 5 are (tf, dl)-identical → exact score tie
    val corpus = Seq(
      (1L, "x x x pad"),
      (2L, "x pad pad pad"),
      (3L, "x x pad pad pad pad pad pad"),
      (4L, "pad only"),
      (5L, "x pad pad pad"))
      .toDF("doc_id", "text")
    val out = Search.bm25RankAudit(corpus, "x", k = 10)
      .as[(Long, Long, Long, Long, Double, Boolean, Boolean)].collect()
    assert(out.length == 4, "doc 4 must not match")
    assert(out.forall(_._6), "rank_agrees must certify on every row")
    assert(out.forall(_._7), "score_in_bounds must certify on every row")
    val byRank = out.sortBy(_._4).map(_._1).toSeq
    // tf=3/dl=4 first; the (1, 4) tie orders 2 before 5 by doc_id;
    // tf=2 at dl=8 loses to tf=1 at dl=4 here (length normalization)
    assert(byRank.head == 1L && byRank.indexOf(2L) < byRank.indexOf(5L),
      s"order: $byRank")
  }

  test("bm25PairRankAudit: the equal-df pair is chosen by the " +
    "deterministic rule, the audit order equals bm25()'s production " +
    "top-k on the same two terms, and partial matches certify") {
    // dfs: aa=3 (1,2,4), bb=3 (1,3,4), x=2, y=2, z=2 → the largest
    // shared df is 3, its two smallest terms are (aa, bb)
    val corpus = Seq(
      (1L, "aa bb x"),
      (2L, "aa aa y y"),
      (3L, "bb z"),
      (4L, "aa bb bb"),
      (5L, "x y z"))
      .toDF("doc_id", "text")
    val out = Search.bm25PairRankAudit(corpus, k = 10)
      .as[(Long, String, String, Long, Long, Long, Long, Double,
        Boolean, Boolean)].collect()
    assert(out.forall(r => r._2 == "aa" && r._3 == "bb"),
      s"pair selection off: ${out.headOption.map(r => (r._2, r._3))}")
    // matched docs = union of the two posting lists (partial matches
    // 2 and 3 included), never doc 5
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(out.forall(_._9), "rank_agrees must certify on every row")
    assert(out.forall(_._10), "score_in_bounds must certify")
    // the audit's rank order IS the production scorer's order
    val byRank = out.sortBy(_._7).map(_._1).toSeq
    val prod = Search.bm25(corpus, Seq("aa", "bb"), 10)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(byRank == prod,
      s"audit order $byRank != production order $prod")
  }

  test("bm25PairRankAudit fails LOUDLY outside the 2^53 exactness " +
    "envelope — and on the da*db PRODUCT, which overflows long " +
    "before any single factor does") {
    // two 500k-token docs: total_len = 1e6, tf(aa)=tf(ab)=10 →
    // da ≈ db ≈ 1.12e8 (each far below 2^53 ≈ 9.0e15) while
    // da·db ≈ 1.26e16 > 2^53 — a per-factor guard would PASS this
    // frame and certify a rounded (non-exact) ordering
    val filler = ("zz " * 499980).trim
    val hot = ("aa " * 10) + ("ab " * 10)
    val corpus = Seq(
      (1L, hot + filler),
      (2L, hot + filler)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Search.bm25PairRankAudit(corpus, k = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("envelope exceeded")),
      s"expected the 2^53 raise_error, got: ${messages(e)}")
  }

  test("bm25Matches: exact matched set with hit counts; saturation " +
    "contract certifies") {
    val out = Search.bm25Matches(docs, Seq("spark", "rare"))
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val hits = out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(hits(1L) == ((1L, 3L, 4L)))  // spark×3 in 4 tokens
    assert(hits(2L) == ((1L, 1L, 3L)))
    assert(hits(3L) == ((1L, 1L, 3L)))  // rare×1
    assert(out.forall(_._5), "saturation contract must certify")
  }

  test("phraseSearch: counts in-order adjacent occurrences per doc") {
    val d = Seq(
      (1L, "a b c a b c"),   // phrase twice
      (2L, "a b x c"),       // broken by x → no match
      (3L, "c b a"),         // reversed → no match
      (4L, "x a b c"))       // once, offset 1
      .toDF("doc_id", "text")
    val out = Search.phraseSearch(d, Seq("a", "b", "c"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1L -> ((2L, 0L)), 4L -> ((1L, 1L))))
  }

  test("phraseSearch: overlapping matches and single-term phrases") {
    val d = Seq((1L, "a a a")).toDF("doc_id", "text")
    // self-overlapping repeat: (0,1) and (1,2) both match "a a"
    val rep = Search.phraseSearch(d, Seq("a", "a"))
      .as[(Long, Long, Long)].head()
    assert(rep == ((1L, 2L, 0L)))
    // single-term phrase degenerates to a term posting count
    val one = Search.phraseSearch(d, Seq("a"))
      .as[(Long, Long, Long)].head()
    assert(one == ((1L, 3L, 0L)))
  }

  test("phraseSearch agrees with a regex count over the fixture corpus") {
    val docsDf = spark.read.parquet(s"$sf001/documents.parquet")
    val phrase = Seq("big", "order", "scan")
    val expected = docsDf
      .select(col("doc_id"), expr(
        // count positions whose 3-token window equals the phrase
        "bigint(size(filter(sequence(0, size(split(text, ' ')) - 3), i -> " +
          "split(text, ' ')[i] = 'big' AND " +
          "split(text, ' ')[i + 1] = 'order' AND " +
          "split(text, ' ')[i + 2] = 'scan')))").as("n"))
      .filter(col("n") > 0)
      .as[(Long, Long)].collect().toMap
    val got = Search.phraseSearch(docsDf, phrase)
      .select("doc_id", "n_occurrences")
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("fuzzySearch resolves typos to every ed-1 vocab term, keeps " +
    "exact matches at distance 0, and drops unresolvable terms") {
    val d = Seq(
      (1L, "spark joins the batch table"),
      (2L, "spark spark sparks fly"),
      (3L, "unrelated words entirely here"))
      .toDF("doc_id", "text")
    val out = Search.fuzzySearch(d,
      Seq("spqrk", "sparks", "zzzzzz"), k = 5)
      .select("q_term", "term", "dist", "doc_id")
      .as[(String, String, Long, Long)].collect()
    // 'spqrk' → 'spark' (substitution); docs 1 and 2 surface
    assert(out.filter(r => r._1 == "spqrk" && r._2 == "spark")
      .map(_._4).toSet == Set(1L, 2L))
    // 'sparks' resolves BOTH ways: exact 'sparks' (dist 0) and the
    // deletion-neighbor 'spark' (dist 1) — ES fuzzy semantics
    val sparks = out.filter(_._1 == "sparks")
    assert(sparks.exists(r => r._2 == "sparks" && r._3 == 0L))
    assert(sparks.exists(r => r._2 == "spark" && r._3 == 1L))
    // nothing within distance 1 of 'zzzzzz' → no rows, not an error
    assert(!out.exists(_._1 == "zzzzzz"))
  }

  test("fuzzySearch maxDist=2: a 2-edit typo resolves for a length-6+ " +
    "query term; short query terms keep allowance 1") {
    val corpus = Seq(
      (1L, "vector store ready"),
      (2L, "vector db here"),
      (3L, "join the tables"),
      (4L, "jinx word pad"))  // lev(join, jinx) = 2 — must NOT match
      .toDF("doc_id", "text")
    val out = Search.fuzzySearch(corpus, Seq("vectro", "join"), k = 5,
      maxDist = 2)
      .as[(String, String, Long, Long, Double, Long)].collect()
    val pairs = out.map(r => (r._1, r._2, r._3)).distinct.toSet
    assert(pairs.contains(("vectro", "vector", 2L)),
      s"ed-2 typo unresolved: $pairs")
    assert(pairs.contains(("join", "join", 0L)))
    assert(!pairs.exists(p => p._1 == "join" && p._2 == "jinx"),
      "4-char query term must stay at one edit (Lucene AUTO)")
    // depth-1 run on the same corpus: the ed-2 match must be absent
    val d1 = Search.fuzzySearch(corpus, Seq("vectro", "join"), k = 5)
      .as[(String, String, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2)).distinct.toSet
    assert(!d1.contains(("vectro", "vector")))
  }

  test("highlight: first-occurrence window clamps at both ends, marks " +
    "every query term inside it, and drops non-matching docs") {
    val d = Seq(
      (1L, "spark at the very start of this longer document here"),
      (2L, "a b c d e f g h i spark"),            // match near the end
      (3L, "x y z spark join w v u t"),           // two terms in window
      (4L, "no matching words at all present"))
      .toDF("doc_id", "text")
    val out = Search.highlight(d, Seq("spark", "join"), window = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // pos 1 → window clamps left: snippet starts at token 1
    assert(out(1L) == ((1L, 1L, "[spark] at the very start of this")))
    // match at the last token → window clamps right
    assert(out(2L) == ((10L, 1L, "g h i [spark]")))
    // both terms inside the window are marked; pos is the FIRST hit
    assert(out(3L) == ((4L, 2L, "x y z [spark] [join] w v")))
    assert(!out.contains(4L))
  }

  test("percolate: conjunction semantics per registered query, " +
    "duplicate terms count once, all-stopword queries match nothing " +
    "under an analyzing chain, analyzed matching folds case") {
    val docsDf = Seq(
      (1L, "spark join fast"),
      (2L, "spark only"),
      (3L, "join spark join"),
      (4L, "Spark Capital")).toDF("doc_id", "text")
    val regs = Seq(
      (10L, "spark join"),
      (20L, "spark"),
      (30L, "spark missingterm"),
      (40L, "join join")).toDF("query_id", "qtext")
    val r = Search.percolate(docsDf, regs)
      .as[(Long, Long)].collect().toSeq
    // ws chain: case-sensitive; q40's duplicate term needs ONE join
    assert(r == Seq((1L, 10L), (1L, 20L), (1L, 40L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 40L)), r.toString)
    // english chain: case folds ('Spark' matches), stopword-only
    // queries match nothing
    val regs2 = Seq((1L, "SPARK"), (2L, "the a")).toDF("query_id",
      "qtext")
    val r2 = Search.percolate(docsDf, regs2, Analyzer.English)
      .as[(Long, Long)].collect().toSeq
    assert(r2 == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)),
      r2.toString)
  }

  test("rrfFuse: rank-based fusion — overlap outranks either single " +
    "ranker's exclusives, absent docs contribute nothing, a single " +
    "ranker passes through in its own order") {
    val a = Seq((1L, 3.0), (2L, 2.0), (3L, 1.0)).toDF("doc_id", "s")
    val b = Seq((2L, 9.9), (3L, 5.0), (4L, 1.1)).toDF("id", "cos")
    val fused = Search.rrfFuse(
      Seq((a, "doc_id", "s"), (b, "id", "cos")), kRrf = 60, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    // ranks: a: 1->1, 2->2, 3->3; b: 2->1, 3->2, 4->3
    assert(fused.map(_._1) == Seq(2L, 3L, 1L, 4L))
    assert(fused.map(_._3) == Seq(2L, 2L, 1L, 1L))
    assert(fused.head._2 == 1.0 / 62 + 1.0 / 61)
    assert(fused.last._2 == 1.0 / 63)
    // single-ranker fusion preserves the ranking's own order
    val solo = Search.rrfFuse(Seq((a, "doc_id", "s")), 60, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(solo.map(_._1) == Seq(1L, 2L, 3L))
  }
}
