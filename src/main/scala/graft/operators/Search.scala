package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text search operators — the native rebuild of what the reference
  * outsources to Elasticsearch/Lucene (`api/controllers/
  * elastic_controller.go:196-229` pushes raw docs; analysis, the inverted
  * index and scoring all happen inside ES). Here they are Spark plans:
  *
  *  - analysis: tokenize (codegen'd `split`, [[TextOps.tokens]]);
  *  - inverted index: term → postings via explode + groupBy — ONE shuffle
  *    keyed by term, partial-aggregated map-side; the persisted,
  *    term-bucketed form is [[SegmentedIndex]]'s segment;
  *  - scoring: tf × idf with idf as the raw N/df ratio (log-free, so the
  *    score is pure IEEE mul/div — bit-identical across engines; swap in
  *    `log` for production BM25 once cross-engine bit-equality is not a
  *    test requirement).
  */
object Search {

  /** The double-exactness envelope for the integer rank-key audits:
    * every integer at or beyond 2^53 stops being exactly
    * representable, so a rank certificate built on larger values
    * fails loudly instead of certifying rounded ordering. */
  private[operators] val TwoTo53: Double = 9007199254740992.0d

  /** Postings: one row per (term, doc) with the term frequency. */
  def postings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens("text")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Fuzzy term search — the reference's Elasticsearch `fuzziness`
    * capability (`/root/reference/api/controllers/elastic_controller.go:197-224`
    * delegates matching to Lucene, whose fuzzy queries are per-segment
    * Levenshtein automata): each query term expands to every
    * vocabulary term within edit distance 1, and each (query term,
    * matched term) pair returns its top-k documents by tf·idf.
    *
    * Resolution uses the SymSpell deletion-variant blocking from
    * [[graft.operators.Fuzzy]], asymmetrically: the QUERY side's
    * variants are a driver-side literal (|terms|·|term|+1 strings —
    * query-bounded, never corpus-bounded), the VOCABULARY side
    * explodes its variants once and probes the broadcast literal — so
    * the vocabulary is never cross-joined with anything, and the
    * exact `levenshtein` verify runs on candidates only. Per-pair
    * scoring is a single mul/div chain (no cross-term float sums), so
    * every emitted score is bitwise cross-engine even though the
    * matched term set is data-dependent.
    *
    * `maxDist = 2` is Lucene's AUTO fuzziness: a QUERY term of length
    * ≥ 6 allows two edits, shorter terms one — and the vocabulary
    * side generates depth-2 variants only for its own length-≥6
    * terms, which is sufficient for recall 1 under that allowance:
    * a 2-edit match with two substitutions forces equal lengths (both
    * ≥ 6), insertions only lengthen the vocab term, and deletions
    * are covered by depth ≤ 1 on the shorter side — so the only
    * vocab terms that ever NEED depth 2 are themselves ≥ 6 chars
    * (FuzzySpec pins every edit shape). The blow-up is bounded:
    * depth 2 is O(|term|²/2) variants, applied only where the
    * allowance can use it.
    *
    * Output: (q_term, term, dist, doc_id, tfidf, rank).
    */
  def fuzzySearch(docs: DataFrame, terms: Seq[String],
                  k: Int, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"maxDist must be 1 or 2: $maxDist")
    val spark = docs.sparkSession
    import spark.implicits._
    val p = postings(docs)
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
    def variants(s: String): Seq[String] =
      if (maxDist == 2 && s.length >= 6)
        (del1(s) ++ del1(s).flatMap(del1)).distinct
      else del1(s)
    val qv = terms.flatMap(t => variants(t).map(v => (t, v))).distinct
      .toDF("q_term", "v")
    val cand = p.select("term").distinct()
      .withColumn("v", explode(expr(Fuzzy.delAutoExpr("term", maxDist))))
      .join(broadcast(qv), "v")
      .filter(levenshtein(col("term"), col("q_term")) <=
        when(length(col("q_term")) >= 6, lit(maxDist)).otherwise(lit(1)))
      .select("q_term", "term").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_term", "term")
      .orderBy(desc("tfidf"), asc("doc_id"))
    cand.join(p, "term")
      .join(dfreq, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", col("tf").cast("double") *
        (col("n_docs") / col("doc_freq").cast("double")))
      .withColumn("dist",
        levenshtein(col("q_term"), col("term")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_term", "term", "dist", "doc_id", "tfidf", "rank")
      .orderBy("q_term", "term", "rank")
  }

  /** Search-result highlighting — the ES `highlight` response feature
    * (the reference's search results come back from Elasticsearch with
    * Lucene-built snippets): for every document containing ANY query
    * term, extract a ±`window`-token snippet around the FIRST
    * occurrence and wrap each query term inside it in `[...]` markers.
    * Pure per-row codegen'd array expressions — no shuffle, no UDF;
    * the first-occurrence rule and fixed window make the snippet a
    * deterministic function of the document, so it oracles exactly.
    * Output: (doc_id, pos, n_hits, snippet); non-matching docs drop.
    */
  /** A string as a Spark SQL single-quoted literal, backslash and
    * quote escaped — for analyzed terms embedded in `expr` strings
    * (under the whitespace chain a term can contain ANY character,
    * including a quote that would otherwise break or inject into the
    * expression). */
  private[operators] def sqlLit(t: String): String =
    "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def highlight(docs: DataFrame, terms: Seq[String],
                window: Int = 3): DataFrame = {
    val arr = terms.map(sqlLit).mkString(", ")
    docs
      .withColumn("toks", TextOps.tokens("text"))
      // first occurrence of ANY term: min over per-term first
      // positions (array_position is 1-based, 0 = absent)
      .withColumn("pos", expr(
        s"array_min(filter(transform(array($arr), " +
          "t -> array_position(toks, t)), x -> x > 0))"))
      .filter(col("pos").isNotNull)
      .withColumn("lo", greatest(lit(1L), col("pos") - window))
      .withColumn("snippet", expr(
        s"concat_ws(' ', transform(slice(toks, int(lo), " +
          s"${2 * window + 1}), " +
          s"t -> if(array_contains(array($arr), t), " +
          "concat('[', t, ']'), t)))"))
      .withColumn("n_hits", expr(
        s"bigint(size(filter(toks, t -> array_contains(array($arr), t))))"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("n_hits"), col("snippet"))
      .orderBy("doc_id")
  }

  /** Inverted index: term → document frequency, total tf and the posting
    * list (doc-id-sorted for deterministic output).
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    postings(docs)
      .groupBy("term")
      .agg(count(lit(1)).as("doc_freq"),
        sum("tf").as("total_tf"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("postings"))

  /** Positional postings: one row per (term, doc, 0-based position) —
    * the positional inverted index exact-phrase queries need (what
    * Lucene stores when a field is indexed with positions). `pos` is
    * widened to long up front so downstream arithmetic and the oracle
    * agree on types.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextOps.tokens("text")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))

  /** Phrase matching over an arbitrary positional-postings frame
    * (doc_id, term, pos) — the shared core of the ad-hoc and
    * segment-served variants, for the phrase's (term, offset) pairs
    * (offsets need not be dense: an analyzer's stopword leaves a gap).
    * One pass, one shuffle: each posting of a phrase term at position
    * p is a candidate anchor `p - offset` for every offset at which
    * that term occurs in the phrase (the tiny term→offset table rides
    * along as a broadcast); an anchor with all k offsets present is an
    * exact occurrence. No k-way self-join, so the postings input is
    * read ONCE — against the raw corpus that means a single tokenize
    * rather than k+1, and the literal-term IN filter sits directly on
    * the postings scan. Output: one row per matching doc with its
    * occurrence count and first match position.
    */
  private[operators] def phraseFromPostings(posts: DataFrame,
      offsets: Seq[(String, Long)]): DataFrame = {
    require(offsets.nonEmpty, "phrase must have at least one term")
    val spark = posts.sparkSession
    import spark.implicits._
    val k = offsets.size
    posts
      .filter(col("term").isin(offsets.map(_._1).distinct: _*))
      .join(broadcast(offsets.toDF("term", "off")), "term")
      .select(col("doc_id"), (col("pos") - col("off")).as("anchor"))
      .filter(col("anchor") >= 0)
      // a position holds exactly one term, so each phrase offset
      // contributes at most one row per (doc, anchor): count == k
      // IS "every offset matched" — no distinct needed
      .groupBy("doc_id", "anchor")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === lit(k.toLong))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"), min("anchor").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Exact phrase search over raw documents (ad-hoc, query-once): the
    * corpus is tokenized ONCE into positional postings and matched via
    * the single-shuffle anchor-count core ([[phraseFromPostings]]).
    * For the query-many posture, append the corpus to a segmented
    * index once ([[ensureBm25Index]]) and use
    * [[SegmentedIndex.phraseSearch]], which never touches the corpus.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame =
    phraseFromPostings(positionalPostings(docs),
      phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) })

  /** BM25 ranking — the scoring Lucene actually runs under the
    * reference's ES queries. `log`-based idf means results are NOT
    * bit-portable across engines (libm), so this is spec-tested with
    * tolerances rather than DuckDB-oracled; [[search]] remains the
    * exact-arithmetic surface.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val p = postings(docs)
    val lens = docs.select(col("doc_id"),
      expr("cast(size(split(text, ' ')) as double)").as("dl"))
    // avg_dl as one exact-integer division (never avg()'s running
    // double sum, whose value depends on accumulation order): the
    // score is then shuffle-order-deterministic and bit-identical to
    // [[SegmentedIndex.bm25TopK]], whose manifest headers store the
    // same integers
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(expr("bigint(size(split(text, ' ')))")).cast("double") /
        count(lit(1)).cast("double")).as("avg_dl"))
    val df_ = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    p.filter(col("term").isin(terms: _*))
      .join(df_, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr(
        "log((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"))
      .withColumn("contrib", expr(
        s"idf * (tf * ($k1 + 1.0)) / (tf + $k1 * (1.0 - $b + $b * dl / avg_dl))"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Single-term BM25 ranking with its cross-engine certificate — the
    * production scorer ([[bm25]]'s k1/b saturation + `log` idf)
    * promoted to the oracled surface. `log` output is not
    * bit-portable (libm), so the certificate rides beside the score
    * instead of the score itself: for ONE term the idf is a common
    * positive factor and the BM25 order reduces to the order of
    * `tf / (tf + k1·(1−b) + k1·b·dl/avgdl)` — which, at the default
    * k1 = 1.2, b = 0.75 (= 3/10 and 9/10 rationals) and
    * avgdl = totalLen/N, is EXACTLY the order of the integer ratio
    *
    *   tf / (10·totalLen·tf + 3·totalLen + 9·N·dl)
    *
    * `rank_key` is that ratio as one int64÷int64 double division —
    * correctly rounded, hence monotone AND bit-identical in any IEEE
    * engine (exact while 10·totalLen·tf < 2^53; a corpus past that
    * re-scales the key) — so both engines derive the same total
    * order. `rank` is the row_number under the PRODUCTION score
    * (log idf and all); `rank_agrees` certifies it equals the
    * rank_key order (ties in the exact ratio break by doc_id on both
    * sides), and `score_in_bounds` pins 0 < score < idf·(k1+1) — the
    * BM25 saturation bound. The oracle recomputes tf/dl/rank_key/rank
    * exactly and states the certificates as literal TRUE (the
    * q117/q125 sketch-tier contract shape).
    *
    * Scale shape: one postings build filtered to the term (at scale, a
    * bucket-pruned segment read — [[SegmentedIndex.bm25RankAudit]]),
    * a 1-row stats broadcast, and a top-k sort of ONE term's posting
    * list — the same total-order-of-scores any search engine's top-k
    * heap computes.
    * Output: (doc_id, tf, dl, rank, rank_key, rank_agrees,
    * score_in_bounds) for rank <= k.
    */
  def bm25RankAudit(docs: DataFrame, term: String, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 == 1.2 && b == 0.75,
      "the exact rank_key derivation hardcodes k1=1.2, b=0.75 " +
        "(rationals 3/10, 9/10); generalize the integer key to change them")
    val p = postings(docs).filter(col("term") === lit(term))
    val lens = docs.select(col("doc_id"),
      expr("bigint(size(split(text, ' ')))").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(expr("bigint(size(split(text, ' ')))")).as("total_len"))
    val dfreq = p.agg(count(lit(1)).as("doc_freq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    val wx = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rank_key"), asc("doc_id"))
    p.join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfreq))
      .withColumn("idf", expr(
        "log((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"))
      .withColumn("score", expr(
        s"idf * (tf * ($k1 + 1.0)) / " +
          s"(tf + $k1 * (1.0 - $b + $b * dl / (total_len / " +
          "cast(n_docs as double))))"))
      .withColumn("rank_key",
        col("tf").cast("double") /
          (lit(10L) * col("total_len") * col("tf") +
            lit(3L) * col("total_len") +
            lit(9L) * col("n_docs") * col("dl")).cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("rank_exact", row_number().over(wx).cast("long"))
      .withColumn("rank_agrees", col("rank") === col("rank_exact"))
      .withColumn("score_in_bounds",
        col("score") > 0.0 && col("score") < col("idf") * (k1 + 1.0))
      .filter(col("rank") <= k)
      .select("doc_id", "tf", "dl", "rank", "rank_key", "rank_agrees",
        "score_in_bounds")
      .orderBy("rank")
  }

  /** TWO-term BM25 ranking with an exact cross-engine rank
    * certificate — [[bm25RankAudit]]'s contract extended to the
    * multi-term sum, putting the full production scorer's ORDER on
    * the oracle surface (q157 pins matched sets and saturation
    * bounds; this pins the ranking itself for ≥ 2 terms).
    *
    * The `log` idf blocks a rational order key for arbitrary term
    * pairs (the sum idf_a·K_a + idf_b·K_b is transcendental), so the
    * pair is chosen FROM THE DATA with EQUAL document frequencies —
    * the largest df shared by ≥ 2 terms, its two lexicographically
    * smallest terms (deterministic, SQL-expressible; the chosen terms
    * ride in the output so the oracle verifies the selection too).
    * Equal df ⇒ equal idf > 0 ⇒ the two-term BM25 order is the order
    * of `K_a + K_b` with `K_t = tf_t / (tf_t + k1·(1−b+b·dl/avgdl))`
    * — at k1 = 1.2, b = 0.75 and avgdl = totalLen/N exactly
    * `10L·tf_t / D_t` with `D_t = 10L·tf_t + 3L + 9N·dl` (q156's
    * derivation), so over the common denominator, dropping the
    * constant positive factor `10L`:
    *
    *   rank_key = (tf_a·D_b + tf_b·D_a) / (D_a·D_b)
    *
    * — one int64÷int64 double division of exact integers, monotone
    * and bit-identical in any IEEE engine while `D_a·D_b < 2^53`
    * (fixture maxima leave ~5× headroom at sf0.1; a corpus past that
    * re-scales the key). A doc matching only one term enters with
    * the other tf = 0 — `K = 0`, exactly the production scorer's
    * missing-term contribution, so partial matches certify too.
    * `rank` is the row_number under the PRODUCTION score (log idf
    * and all, summed per matched term); `rank_agrees` certifies it
    * equals the rank_key order; `score_in_bounds` pins
    * `0 < score < 2·idf·(k1+1)` (two saturating contributions).
    *
    * Scale shape: the pair selection is a vocabulary-sized window +
    * 1-row broadcast (audit-only work); scoring reads two posting
    * lists and top-k's them — the serving cost shape of any two-term
    * query. Output: (doc_id, term_a, term_b, tf_a, tf_b, dl, rank,
    * rank_key, rank_agrees, score_in_bounds) for rank <= k.
    */
  def bm25PairRankAudit(docs: DataFrame, k: Int, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame = {
    require(k1 == 1.2 && b == 0.75,
      "the exact rank_key derivation hardcodes k1=1.2, b=0.75 " +
        "(rationals 3/10, 9/10); generalize the integer key to change them")
    val p = postings(docs)
    val lens = docs.select(col("doc_id"),
      expr("bigint(size(split(text, ' ')))").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(expr("bigint(size(split(text, ' ')))")).as("total_len"))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    // deterministic equal-df pair: largest df shared by >= 2 terms,
    // two lexicographically smallest terms there (vocabulary-sized)
    val shared = dfreq.withColumn("nshare",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_freq")))
      .filter(col("nshare") >= 2)
    val dstar = shared.agg(max("doc_freq").as("dstar"))
    val pair = shared.join(broadcast(dstar),
        col("doc_freq") === col("dstar"))
      .orderBy("term").limit(2)
      .agg(min("term").as("term_a"), max("term").as("term_b"),
        max("doc_freq").as("doc_freq"))
    val tfp = p.crossJoin(broadcast(pair))
      .filter(col("term") === col("term_a") ||
        col("term") === col("term_b"))
      .groupBy("doc_id", "term_a", "term_b", "doc_freq")
      .agg(sum(when(col("term") === col("term_a"), col("tf"))
          .otherwise(lit(0L))).as("tf_a"),
        sum(when(col("term") === col("term_b"), col("tf"))
          .otherwise(lit(0L))).as("tf_b"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    val wx = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rank_key"), asc("doc_id"))
    def contrib(tf: String): String =
      s"idf * ($tf * ($k1 + 1.0)) / ($tf + $k1 * (1.0 - $b + " +
        s"$b * dl / (total_len / cast(n_docs as double))))"
    tfp.join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr(
        "log((cast(n_docs as double) - doc_freq + 0.5) / " +
          "(doc_freq + 0.5) + 1.0)"))
      .withColumn("score",
        expr(contrib("tf_a")) + expr(contrib("tf_b")))
      // da/db and the rank_key numerator are computed in DOUBLE, not
      // Long: a double product/sum of exact integers is correctly
      // rounded at any magnitude (identical bits to the Long path
      // inside the 2^53 envelope, and degrades GRACEFULLY beyond),
      // whereas the Long multiply would silently WRAP at 2^63 and
      // certify a garbage ordering. The exact-ordering derivation
      // itself still needs the integers exact, so an input outside
      // the 2^53 envelope fails the audit LOUDLY (raise_error) rather
      // than emitting a certificate the arithmetic can't back.
      .withColumn("da",
        lit(10.0d) * col("total_len").cast("double") *
          col("tf_a").cast("double") +
          lit(3.0d) * col("total_len").cast("double") +
          lit(9.0d) * col("n_docs").cast("double") *
            col("dl").cast("double"))
      .withColumn("db",
        lit(10.0d) * col("total_len").cast("double") *
          col("tf_b").cast("double") +
          lit(3.0d) * col("total_len").cast("double") +
          lit(9.0d) * col("n_docs").cast("double") *
            col("dl").cast("double"))
      .withColumn("rank_num",
        col("tf_a").cast("double") * col("db") +
          col("tf_b").cast("double") * col("da"))
      // the envelope guard sits on the PRODUCT da*db — the quantity
      // the derivation actually bounds (line ~420): for da*db in
      // [2^53, 2^106) — reachable long before any single factor hits
      // 2^53 — the denominator would round and the key would no
      // longer be monotone with the exact rational order. The product
      // check SUBSUMES the per-factor and numerator ones: da, db >= 3
      // (3·total_len with total_len >= 1), so da*db < 2^53 forces
      // each factor < 2^53, and rank_num = tf_a·db + tf_b·da <=
      // (da/10)·db/total_len + (db/10)·da/total_len < da·db.
      .withColumn("rank_key",
        when(col("da") * col("db") >= lit(TwoTo53),
          expr("raise_error('bm25PairRankAudit: integer rank-key " +
            "envelope exceeded (da*db >= 2^53) — the exact-ordering " +
            "certificate cannot hold at this corpus scale')")
            .cast("double"))
          .otherwise(col("rank_num") / (col("da") * col("db"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("rank_exact", row_number().over(wx).cast("long"))
      .withColumn("rank_agrees", col("rank") === col("rank_exact"))
      .withColumn("score_in_bounds",
        col("score") > 0.0 &&
          col("score") < lit(2.0) * col("idf") * (k1 + 1.0))
      .filter(col("rank") <= k)
      .select("doc_id", "term_a", "term_b", "tf_a", "tf_b", "dl",
        "rank", "rank_key", "rank_agrees", "score_in_bounds")
      .orderBy("rank")
  }

  /** Multi-term BM25 over EVERY matching document — the production
    * scorer's multi-term path with its oracle-able projection: the
    * matched doc set, per-doc hit counts and exact (tf-sum, dl) are
    * engine-independent integers; the `log`-based score itself rides
    * only through its saturation contract
    * `0 < score < Σ_hit_terms idf·(k1+1)` (each term's contribution
    * saturates below idf·(k1+1) as tf → ∞), stated by the oracle as
    * literal TRUE. Rank properties of the score are SearchSpec
    * territory ([[bm25]]).
    * Output: (doc_id, n_terms_hit, total_tf, dl, score_in_bounds),
    * doc-id ordered.
    */
  def bm25Matches(docs: DataFrame, terms: Seq[String],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val p = postings(docs)
    val lens = docs.select(col("doc_id"),
      expr("bigint(size(split(text, ' ')))").as("dl"))
    // exact-integer avg_dl — see [[bm25]]'s note
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(expr("bigint(size(split(text, ' ')))")).cast("double") /
        count(lit(1)).cast("double")).as("avg_dl"))
    val df_ = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    p.filter(col("term").isin(terms: _*))
      .join(df_, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr(
        "log((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)"))
      .withColumn("contrib", expr(
        s"idf * (tf * ($k1 + 1.0)) / " +
          s"(tf + $k1 * (1.0 - $b + $b * dl / avg_dl))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum("tf").as("total_tf"),
        max(col("dl")).as("dl"),
        sum("contrib").as("score"),
        sum(col("idf") * (k1 + 1.0)).as("bound"))
      .withColumn("score_in_bounds",
        col("score") > 0.0 && col("score") < col("bound"))
      .select("doc_id", "n_terms_hit", "total_tf", "dl",
        "score_in_bounds")
      .orderBy("doc_id")
  }

  /** Term search with tf-idf-ish ranking: score(doc) = Σ_terms tf ×
    * (N / df). Query terms are a literal set → the postings filter
    * pushes down to the term key; only matching postings are read.
    */
  def search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val p = postings(docs)
    // Corpus size as a broadcast 1-row frame — stays inside the single
    // plan (no separate driver-side count job).
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val df_ = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    // Per-term pivoted contributions summed in a FIXED order: each
    // sum() collapses exactly one non-zero value (plus 0.0s, which add
    // exactly), so the final score is order-independent → bit-identical
    // across shuffle orders and engines. Terms enter as Column literals
    // (never spliced into SQL text).
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t),
        col("tf").cast("double") *
          (col("n_docs") / col("doc_freq").cast("double")))
        .otherwise(lit(0.0d))).as(s"c_$i")
    }
    val score = terms.indices
      .map(i => col(s"c_$i"))
      .reduce(_ + _)
    p.filter(col("term").isin(terms: _*))
      .join(df_, "term")
      .crossJoin(broadcast(nDf))
      .groupBy("doc_id")
      .agg(contribs.head, contribs.tail :+ count(lit(1)).as("n_terms_hit"): _*)
      .withColumn("score", score)
      .select(col("doc_id"), col("score"), col("n_terms_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The whole-corpus segmented index for one immutable fixture,
    * built AT MOST ONCE: the corpus appended to a [[SegmentedIndex]]
    * root as ONE whitespace-analyzed batch with no tombstones, so its
    * N, totalLen and df equal the raw table's. The root name carries
    * a fingerprint of `fixtureKey` (the fixture directory); `docs` is
    * by-name, so a warm root never constructs the corpus frame and
    * rewrites nothing. SparkEntry.stage builds it up front; a cold
    * root degrades to build-on-first-probe. Returns the root. */
  def ensureBm25Index(spark: org.apache.spark.sql.SparkSession,
                      fixtureKey: String, docs: => DataFrame,
                      numBuckets: Int = 8): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_segidx_full_sx7a_" +
        graft.engine.Bucketing.fingerprint8(fixtureKey)).getPath
    if (!SegmentedIndex.hasBatch(root, "all"))
      SegmentedIndex.append(spark, root, docs, "all", nBuckets = numBuckets)
    root
  }

  /** Reciprocal-rank fusion — Elasticsearch 8's `rrf` retriever
    * (Cormack & Clarke), THE standard way to hybridize a lexical and
    * a dense ranking: each input ranking contributes
    * `1 / (kRrf + rank)` for the documents it ranked (absent docs
    * contribute nothing), ranks are row_numbers under that ranking's
    * own (score desc, id) total order, and the fused list orders by
    * the summed contribution. Purely RANK-based — no score
    * calibration between heterogeneous rankers, which is exactly why
    * ES adopted it for BM25 + kNN hybrid search.
    *
    * Inputs are (frame, idCol, scoreCol) triples; each frame MUST be
    * an already-computed top-k ranking — that boundedness is the
    * CONTRACT that makes the global (un-partitioned) rank windows
    * safe: they run over k-sized frames, not the corpus. Passing an
    * unbounded frame funnels it through one window partition — cap it
    * with the ranker's own top-k first (nothing type-level can check
    * this; the contract is the caller's). With TWO rankers the fused
    * score sums ≤ 2 doubles — commutative, so shuffle order cannot
    * change a bit (the oracle leans on this); with ≥ 3 the float sum
    * order is unpinned and only the rank order is contractual.
    * Output: (doc_id, rrf_score, n_rankers), top-k by
    * (rrf_score desc, doc_id). */
  def rrfFuse(rankings: Seq[(DataFrame, String, String)],
              kRrf: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val ranked = rankings.map { case (df, idCol, scoreCol) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc(scoreCol), asc("doc_id"))
      df.select(col(idCol).cast("long").as("doc_id"), col(scoreCol))
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("doc_id"),
          (lit(1.0d) /
            (lit(kRrf).cast("double") + col("rank").cast("double")))
            .as("contrib"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(sum("contrib").as("rrf_score"),
        count(lit(1)).as("n_rankers"))
      .orderBy(desc("rrf_score"), asc("doc_id"))
      .limit(k)
  }

  /** Percolation — ES's percolator, search REVERSED: queries are
    * registered up front and each incoming document reports which
    * registered queries it matches (the alerting/routing/
    * saved-search primitive). `queries` is (query_id, qtext); a
    * document matches when EVERY analyzed term of the query's text
    * appears in the document's analyzed term set (ES's `match` with
    * `operator: and` — the alerting default; an all-stopword query
    * matches nothing, zero_terms_query:none).
    *
    * Scale shape: both sides tokenize once (codegen'd analyzer SQL),
    * distinct to (id, term), and meet in ONE equi-join on `term` —
    * batch×registry only through shared vocabulary, never a cross
    * product; the conjunction check is a count aggregation against
    * the query's term count. At 10^5 registered alerts over a
    * streaming batch this is a broadcast-sized build side. Output:
    * (doc_id, query_id), both ascending. */
  def percolate(docs: DataFrame, queries: DataFrame,
                an: Analyzer.Chain = Analyzer.Whitespace): DataFrame = {
    val qTerms = queries
      .select(col("query_id"),
        explode(Analyzer.posTerms(an, "qtext")).as("pt"))
      .select(col("query_id"), col("pt.term").as("term"))
      .distinct()
    val qSizes = qTerms.groupBy("query_id")
      .agg(count(lit(1)).as("n_q_terms"))
    val docTerms = docs
      .select(col("doc_id"),
        explode(Analyzer.posTerms(an, "text")).as("pt"))
      .select(col("doc_id"), col("pt.term").as("term"))
      .distinct()
    docTerms.join(qTerms, "term")
      .groupBy("doc_id", "query_id")
      .agg(count(lit(1)).as("n_hit"))
      .join(qSizes, "query_id")
      .filter(col("n_hit") === col("n_q_terms"))
      .select("doc_id", "query_id")
      .orderBy("doc_id", "query_id")
  }

  /** Ranking evaluation — ES's `_rank_eval` API (the relevance
    * regression harness: "did the ranking change hurt precision"),
    * over a frame of RANKED RESULTS (query_id, doc_id, rank —
    * 1-based, the search page as served) and a frame of JUDGMENTS
    * (query_id, doc_id listing the relevant docs — binary
    * relevance, ES's default for precision/recall/MRR). Per query:
    *
    *   - `precision_k`  = |relevant ∩ top-k| / k (ES's
    *     precision@k with `ignore_unlabeled: false` — unlabeled
    *     results count against precision);
    *   - `recall_k`     = |relevant ∩ top-k| / |relevant|;
    *   - `mrr`          = 1 / rank of the FIRST relevant result
    *     (0.0 when none ranks — ES's convention).
    *
    * All three are single divisions of small exact integers —
    * bit-reproducible cross-engine; ES's DCG/NDCG metrics need
    * libm log₂ weights and are stated OUT with the decay-kernel
    * posture. A query present in judgments but absent from results
    * scores 0/0-guarded zeros (ES reports it with zero metrics).
    *
    * Scale shape: results are page-sized per query (k·|queries|
    * rows), judgments are label-set-sized; everything is one
    * query-keyed join + aggregation — never corpus work. Output:
    * (query_id, n_relevant, n_hit_k, precision_k, recall_k, mrr),
    * query-ascending. */
  def rankEval(results: DataFrame, judgments: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val res = results.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank"))
    val jud = judgments.select("query_id", "doc_id").distinct()
    val nRel = jud.groupBy("query_id")
      .agg(count(lit(1)).as("n_relevant"))
    val scored = res.join(jud.withColumn("rel", lit(true)),
        Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("rel").isNotNull &&
          col("rank") <= lit(k.toLong), 1L).otherwise(0L))
          .as("n_hit_k"),
        min(when(col("rel").isNotNull, col("rank")))
          .as("first_rel_rank"))
    nRel.join(scored, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("n_hit_k"), lit(0L)).as("n_hit_k"),
        (coalesce(col("n_hit_k"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("precision_k"),
        (coalesce(col("n_hit_k"), lit(0L)).cast("double") /
          col("n_relevant").cast("double")).as("recall_k"),
        when(col("first_rel_rank").isNotNull,
          lit(1.0d) / col("first_rel_rank").cast("double"))
          .otherwise(lit(0.0d)).as("mrr"))
      .orderBy("query_id")
  }

  /** Percolation over the QUERY DSL SUBSET (round-18, upgrading
    * [[percolate]]'s term-conjunction-only registry): real saved
    * searches and alerts compose — each registered row is a bool
    * query of up to four clause kinds, any subset present:
    *
    *   - `must` (string): match with operator:and — every analyzed
    *     term required ([[percolate]]'s rule);
    *   - `phrase` (string): an exact adjacent phrase (analyzed WITH
    *     positions — stopword gaps respected, the
    *     [[SegmentedIndex.phraseSearch]] anchor-count core run
    *     against the batch's own position frame);
    *   - `must_not` (string): any analyzed term present excludes the
    *     doc (filter context);
    *   - `range_field`/`range_lo`/`range_hi`: an inclusive numeric
    *     range on one of the document's STORED columns (a null bound
    *     = that side unbounded — ES's gte/lte forms); a doc missing
    *     the field fails the clause (ES's range rule);
    *   - `should` + `msm` (optional columns, round-18): analyzed
    *     should terms with `minimum_should_match` — the doc must
    *     hold ≥ msm DISTINCT should terms. A null msm takes ES's
    *     bool default: 1 when the query has no must/phrase (a
    *     pure-should query must match something), else 0 (should
    *     becomes scoring-only, and since percolation emits MATCHES
    *     not scores, a no-op — ES's exact rule).
    *
    * Registry contract, `require`d loudly: every query carries
    * POSITIVE text evidence (a must term, a phrase, or a should
    * clause with effective msm ≥ 1) — candidates arise only from
    * term equi-joins, so the work stays batch×registry through
    * shared vocabulary and never a cross join (a pure-negative /
    * pure-range registration would need one); range fields must
    * name a numeric document column. The batch tokenizes ONCE (one
    * codegen'd posTerms pass feeds the term set AND the phrase
    * anchor frame). Output: (doc_id, query_id), both ascending. */
  def percolateDsl(docs: DataFrame, queries: DataFrame,
                   an: Analyzer.Chain = Analyzer.Whitespace)
      : DataFrame = {
    // should/msm are OPTIONAL registry columns (pre-round-18
    // registries carry neither)
    def opt(name: String, tpe: String) =
      (if (queries.columns.contains(name)) col(name)
       else lit(null)).cast(tpe).as(name)
    val hasMustOrPhrase =
      (col("must").isNotNull && col("must") =!= "") ||
        (col("phrase").isNotNull && col("phrase") =!= "")
    val q = queries.select(
      col("query_id"),
      col("must").cast("string").as("must"),
      col("phrase").cast("string").as("phrase"),
      col("must_not").cast("string").as("must_not"),
      col("range_field").cast("string").as("range_field"),
      col("range_lo").cast("double").as("range_lo"),
      col("range_hi").cast("double").as("range_hi"),
      opt("should", "string"), opt("msm", "int"))
      .withColumn("msm_eff",
        when(col("should").isNull || col("should") === "",
          lit(null).cast("int"))
          .otherwise(coalesce(col("msm"),
            when(hasMustOrPhrase, lit(0)).otherwise(lit(1)))))
    val noPositive = q.filter(!hasMustOrPhrase &&
        coalesce(col("msm_eff"), lit(0)) <= 0)
      .select("query_id").limit(1).collect()
    require(noPositive.isEmpty,
      s"percolator query '${noPositive.headOption.map(_.get(0))
        .getOrElse("")}' has no positive clause (must, phrase, or " +
        "should with minimum_should_match >= 1) — pure-negative/" +
        "pure-range registrations would need a batch cross join " +
        "and are refused")
    val numCols = docs.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        && f.name != "doc_id").map(_.name).toSeq
    val badRange = q.filter(col("range_field").isNotNull &&
        !col("range_field").isin(numCols: _*))
      .select("query_id", "range_field").limit(1).collect()
    require(badRange.isEmpty,
      s"percolator range field '${badRange.headOption.map(_.get(1))
        .getOrElse("")}' is not a numeric document column " +
        s"(have: ${numCols.mkString(", ")})")
    // ONE tokenize pass of the batch feeds every clause kind
    val docPos = docs.select(col("doc_id"),
        explode(Analyzer.posTerms(an, "text")).as("pt"))
      .select(col("doc_id"), col("pt.term").as("term"),
        col("pt.pos").as("pos"))
    val docTerms = docPos.select("doc_id", "term").distinct()
    // must: the conjunction count check
    val qMust = q.filter(col("must").isNotNull && col("must") =!= "")
      .select(col("query_id"),
        explode(Analyzer.posTerms(an, "must")).as("pt"))
      .select(col("query_id"), col("pt.term").as("term")).distinct()
    val qSizes = qMust.groupBy("query_id")
      .agg(count(lit(1)).as("n_q"))
    val mustSat = docTerms.join(qMust, "term")
      .groupBy("doc_id", "query_id").agg(count(lit(1)).as("nh"))
      .join(qSizes, "query_id")
      .filter(col("nh") === col("n_q"))
      .select("doc_id", "query_id")
    // phrase: the anchor-count core against the batch position frame
    val qPhrase = q.filter(col("phrase").isNotNull &&
        col("phrase") =!= "")
      .select(col("query_id"),
        explode(Analyzer.posTerms(an, "phrase")).as("pt"))
      .select(col("query_id"), col("pt.term").as("term"),
        col("pt.pos").as("off"))
    val pSizes = qPhrase.groupBy("query_id")
      .agg(count(lit(1)).as("k_q"))
    val phraseSat = docPos.join(qPhrase, "term")
      .select(col("doc_id"), col("query_id"),
        (col("pos") - col("off")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("doc_id", "query_id", "anchor")
      .agg(count(lit(1)).as("nh"))
      .join(pSizes, "query_id")
      .filter(col("nh") === col("k_q"))
      .select("doc_id", "query_id").distinct()
    // must_not: one shared-vocabulary join marks excluded pairs
    val qNot = q.filter(col("must_not").isNotNull &&
        col("must_not") =!= "")
      .select(col("query_id"),
        explode(Analyzer.posTerms(an, "must_not")).as("pt"))
      .select(col("query_id"), col("pt.term").as("term")).distinct()
    val notSat = docTerms.join(qNot, "term")
      .select("doc_id", "query_id").distinct()
    // should: distinct-hit count >= the effective msm (msm_eff >= 1
    // only — msm 0 is scoring-only and gates nothing)
    val qShould = q.filter(coalesce(col("msm_eff"), lit(0)) >= 1)
      .select(col("query_id"),
        explode(Analyzer.posTerms(an, "should")).as("pt"))
      .select(col("query_id"), col("pt.term").as("term")).distinct()
    val shouldSat = docTerms.join(qShould, "term")
      .groupBy("doc_id", "query_id").agg(count(lit(1)).as("nh"))
      .join(q.select(col("query_id"), col("msm_eff")), "query_id")
      .filter(col("nh") >= col("msm_eff"))
      .select("doc_id", "query_id")
    // range: the doc's numeric columns as one map, probed per pair
    val fvals = map_from_arrays(
      array(numCols.map(lit): _*),
      array(numCols.map(c => col(c).cast("double")): _*))
    val docVals = docs.select(col("doc_id"), fvals.as("fvals"))
    // candidate pairs met in ONE full-outer chain (r18
    // optimization): the outer join's (doc_id, query_id) set is
    // exactly the old union-distinct of the three Sat frames (each
    // is already distinct per pair), and an absent side contributes
    // a null flag exactly like the old left joins — so each Sat
    // subtree (and its tokenize pass) is computed ONCE instead of
    // twice (once in the union, once in its re-join)
    val cand = mustSat.withColumn("msat", lit(true))
      .join(phraseSat.withColumn("psat", lit(true)),
        Seq("doc_id", "query_id"), "full_outer")
      .join(shouldSat.withColumn("ssat", lit(true)),
        Seq("doc_id", "query_id"), "full_outer")
    cand
      .join(q.select(col("query_id"),
        (col("must").isNotNull && col("must") =!= "").as("hasm"),
        (col("phrase").isNotNull && col("phrase") =!= "").as("hasp"),
        (coalesce(col("msm_eff"), lit(0)) >= 1).as("hass"),
        col("range_field"), col("range_lo"), col("range_hi")),
        "query_id")
      .filter((not(col("hasm")) || col("msat").isNotNull) &&
        (not(col("hasp")) || col("psat").isNotNull) &&
        (not(col("hass")) || col("ssat").isNotNull))
      .join(notSat.withColumn("nsat", lit(true)),
        Seq("doc_id", "query_id"), "left")
      .filter(col("nsat").isNull)
      .join(docVals, "doc_id")
      .filter(col("range_field").isNull ||
        (element_at(col("fvals"), col("range_field")).isNotNull &&
          element_at(col("fvals"), col("range_field")) >=
            coalesce(col("range_lo"), lit(Double.NegativeInfinity)) &&
          element_at(col("fvals"), col("range_field")) <=
            coalesce(col("range_hi"), lit(Double.PositiveInfinity))))
      .select("doc_id", "query_id")
      .orderBy("doc_id", "query_id")
  }
}
