package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Tombstone exclusion, read by read: every public `SegmentedIndex` /
  * `QueryString` read that passes its rows through the live-docs rule
  * (`SegmentedIndex.liveDocs`) and that no other spec checks against a
  * deleted document gets one row here. One corpus is indexed three
  * ways: `full` (two segments), `dead` (the same, then doc 5 deleted)
  * and `control` (the same, with doc 5 never indexed). An aggregating
  * read must equal `control` on `dead` — the deleted doc contributes
  * nothing — and must differ on `full`,
  * so the row really reaches doc 5. A read that scores is checked on
  * its hit list only: N and df keep counting deleted docs until a
  * merge (Lucene's statistics phase), so doc 5 must leave the hits
  * while scores may still differ from `control`.
  *
  * Reads checked against a deleted doc by other specs (not repeated
  * here): adjacencyMatrix, bm25MaxScoreTopK, bm25RankAudit, bm25TopK,
  * boolSearch, cardinalityFacet, collapseSearch,
  * completionFieldSuggest, compositeFacet, countQuery, deleteByQuery,
  * disMaxSearch, existsQuery, explainScore, facet, facetStats,
  * familyStatsFacet, fetch, fetchFields,
  * filtersFacet, fuzzySearch, hasChildSearch, hasParentSearch,
  * highlight, histogramFacet, merge, missingFacet,
  * moreLikeThis, multiFacet, multiQuerySearch, multiSearch,
  * multiTermVectors, multiTermsFacet, namedQueriesSearch, nestedQuery,
  * percentileRanksFacet, phrasePrefixSearch, phraseSearch,
  * pinnedSearch, prefixSearch, rangeFacet, rareTermsFacet, reindex,
  * search, searchAlias, searchAt, significantTerms,
  * simpleQueryString, slicedScroll, sloppyPhraseSearch, sortedSearch,
  * spanFirstSearch, statsFacet, termVectors, termsLookupSearch,
  * termsSetQuery, updateByQuery, wildcardSearch and
  * `QueryString.search`. */
class TombstoneExclusionSpec extends SparkSpec {
  import spark.implicits._
  import SegmentedIndex._

  /** Doc 5 is the one deleted: it matches `spark` and `vector`, sits
    * in parent 2's nested block and carries the largest `n_chars`, so
    * every read below reaches it. */
  private lazy val docs = Seq(
    (1L, "spark join vector data", "en", "s1", 120L, 2L, 1L, 0L),
    (2L, "spark data stream", "en", "s2", 80L, 1L, 1L, 1L),
    (3L, "spark vector index search", "de", "s1", 300L, 4L, 2L, 0L),
    (4L, "join stream data", "de", "s2", 150L, 2L, 3L, 0L),
    (5L, "spark vector ghost data stream", "fr", "s3", 900L, 3L, 2L,
      1L),
    (6L, "vector search data", "fr", "s1", 60L, 1L, 3L, 1L),
    (7L, "spark stream join", "en", "s3", 200L, 5L, 1L, 2L),
    (8L, "data index", "de", "s2", 40L, 2L, 2L, 2L))
    .toDF("doc_id", "text", "lang", "source", "n_chars", "w",
      "parent_id", "ord")

  /** `<tmp>/<variant>/logs-000001`: a one-member rollover family, so
    * [[SegmentedIndex.searchFamily]] can read each variant too. */
  private def build(variant: String, batchB: DataFrame,
                    deleted: Seq[Long]): String = {
    val root = Files.createTempDirectory("graft-tomb-" + variant)
      .toString + "/logs-000001"
    append(spark, root, docs.filter(col("doc_id") <= 4), "a",
      nBuckets = 4)
    append(spark, root, batchB, "b")
    if (deleted.nonEmpty)
      delete(spark, root, deleted.toDF("doc_id"), "d")
    root
  }

  private lazy val full = build("full", docs.filter(col("doc_id") > 4),
    Nil)
  private lazy val dead = build("dead", docs.filter(col("doc_id") > 4),
    Seq(5L))
  private lazy val control = build("control",
    docs.filter(col("doc_id") > 4 && col("doc_id") =!= 5), Nil)

  private lazy val parents = {
    val root = Files.createTempDirectory("graft-tomb-p").toString
    append(spark, root, Seq((1L, "parent one"), (2L, "parent two"),
      (3L, "parent three")).toDF("doc_id", "text"), "a", nBuckets = 4)
    root
  }

  private def alias(root: String): String = {
    val a = root + ".alias"
    setAlias(a, root)
    a
  }

  /** One read under test. `view` None: a hit list — doc 5 must be in
    * its `doc_id` column on `full` and absent on `dead` (its scores,
    * and so a top-k's or a stats-picked term pair's membership, keep
    * counting the deleted doc, so it need not equal `control`).
    * `view` Some(v): `v` of the read must equal `control` on `dead`
    * and differ from it on `full`. */
  private case class Read(name: String,
                          view: Option[DataFrame => DataFrame],
                          run: String => DataFrame)

  private def hits(name: String)(run: String => DataFrame): Read =
    Read(name, None, run)

  private def same(name: String,
                   view: DataFrame => DataFrame = identity)(
      run: String => DataFrame): Read = Read(name, Some(view), run)

  /** A significant-terms row's foreground count for `term`: bg counts
    * and scores read the df/N statistics, which keep counting a
    * deleted doc until merge. */
  private def fgOf(term: String)(df: DataFrame): DataFrame =
    df.filter(col("term") === term).select("term", "fg_count")

  private lazy val reads: Seq[Read] =
    Seq(
      hits("bm25WandAudit")(r => bm25WandAudit(spark, r, k = 10)),
      hits("boostingSearch")(r => boostingSearch(spark, r,
        Seq("spark"), Seq("join"), 0.5, 10)),
      same("boxplotFacet")(r => boxplotFacet(spark, r, Seq("spark"),
        "n_chars")),
      same("bucketScriptFacet")(r => bucketScriptFacet(spark, r,
        Seq("spark"), "n_chars", 100L, Seq("sum_nc" -> "n_chars"),
        "sum_nc / doc_count")),
      same("categorizeTextFacet")(r => categorizeTextFacet(spark, r,
        Seq("spark"), 10)),
      hits("collapseInnerHits")(r => collapseInnerHits(spark, r,
        Seq("spark"), "lang", kGroups = 5, innerN = 5)),
      hits("combinedFieldsSearch")(r => combinedFieldsSearch(spark,
        Seq(("text", r, 1.0)), Seq("spark"), 10)),
      same("cumulativeCardinalityFacet")(r =>
        cumulativeCardinalityFacet(spark, r, Seq("spark"), "n_chars",
          100L, "lang")),
      hits("decayScoreSearch")(r => decayScoreSearch(spark, r,
        Seq("spark"), "n_chars", 100L, 1000L, 10)),
      hits("distanceFeatureSearch")(r => distanceFeatureSearch(spark,
        r, Seq("spark"), "n_chars", 100L, 50L, 1.0, 10)),
      same("diversifiedSamplerFacet")(r =>
        diversifiedSamplerFacet(spark, r, Seq("spark"), "source", 10,
          "lang", 10)),
      same("extendedStatsFacet")(r => extendedStatsFacet(spark, r,
        Seq("spark"), "n_chars")),
      same("facetInclude")(r => facetInclude(spark, r, Seq("spark"),
        "lang", Some("[a-z]+"), None, 10)),
      same("facetPartition")(r => facetPartition(spark, r,
        Seq("spark"), "lang", 1, 0, 10)),
      hits("functionScoreSearch")(r => functionScoreSearch(spark, r,
        Seq("spark"), "w", 10)),
      hits("highlightPositional")(r => highlightPositional(spark, r,
        Seq("spark"), 10)),
      same("histogramPipelineFacet")(r => histogramPipelineFacet(
        spark, r, Seq("spark"), "n_chars", 100L)),
      hits("intervalsQuery")(r => intervalsQuery(spark, r,
        IAllOf(Seq(IMatch(Seq("spark")), IMatch(Seq("vector"))),
          maxGaps = 2), k = 10)),
      hits("intervalsSearch")(r => intervalsSearch(spark, r,
        Seq("spark", "vector"), maxGaps = 2, k = 10)),
      same("madFacet")(r => madFacet(spark, r, Seq("spark"),
        "n_chars")),
      hits("matchBoolPrefix")(r => matchBoolPrefix(spark, r,
        Seq("spark"), "vec", 10)),
      hits("matchFuzzySearch")(r => matchFuzzySearch(spark, r,
        Seq("spork"), 1, 10)),
      hits("maxScoreSearch")(r => maxScoreSearch(spark, r,
        Seq("spark"), 10)),
      same("movingPercentilesFacet")(r => movingPercentilesFacet(
        spark, r, Seq("spark"), "n_chars", 100L, 3, 50.0)),
      same("multiFacetStats")(r => multiFacetStats(spark,
        Seq("i" -> r), Seq("spark"), "lang", "n_chars", 10)),
      same("multiHistogramFacet")(r => multiHistogramFacet(spark,
        Seq("i" -> r), Seq("spark"), "n_chars", 100L)),
      hits("multiMatchFuzzySearch")(r => multiMatchFuzzySearch(spark,
        Seq("text" -> r), Seq("spork"), 1, 0.5, 10)),
      hits("multiMatchPhraseSearch")(r => multiMatchPhraseSearch(
        spark, Seq("text" -> r), Seq("spark", "vector"), "phrase",
        0.5, 10)),
      hits("multiMatchSearch")(r => multiMatchSearch(spark,
        Seq("text" -> r), Seq("spark"), "best_fields", 0.3, 10)),
      hits("multiSearchBoosted")(r => multiSearchBoosted(spark,
        Seq(("i", r, 2.0)), Seq("spark"), 10)),
      hits("multiSearchPerIndex")(r => multiSearchPerIndex(spark,
        Seq("i" -> r), Seq("spark"), 10)),
      same("multiSignificantTerms", fgOf("spark"))(
        r => multiSignificantTerms(spark, Seq("i" -> r), Seq("spark"),
          10, minDocCount = 1L)),
      same("multiStatsFacet")(r => multiStatsFacet(spark,
        Seq("i" -> r), Seq("spark"), "n_chars")),
      same("nestedFacet")(r => nestedFacet(spark, parents, r,
        Seq("parent"), "lang", 10)),
      same("nestedInnerHits", _.select("doc_id", "ord"))(r =>
        nestedInnerHits(spark, r, parents, Seq("spark"), None, 10)),
      same("normalizeFacet")(r => normalizeFacet(spark, r,
        Seq("spark"), "n_chars", 100L, "percent_of_sum")),
      same("percentilesBucket")(r => percentilesBucket(spark, r,
        Seq("spark"), "n_chars", 100L, Seq(50.0))),
      same("randomSamplerFacet")(r => randomSamplerFacet(spark, r,
        Seq("spark"), "n_chars", 1.0, 7L)),
      hits("randomScoreSearch")(r => randomScoreSearch(spark, r,
        Seq("spark"), 7L, 10)),
      hits("rankFeatureSearch")(r => rankFeatureSearch(spark, r,
        Seq("spark"), "w", 1.0, 1.0, 10)),
      hits("regexpSearch")(r => regexpSearch(spark, r, "sp.*k", 10)),
      hits("rescoreChain")(r => rescoreChain(spark, r, Seq("spark"),
        Seq(("w", 3, 0.0, 1.0)), 10)),
      hits("rescoreSearch")(r => rescoreSearch(spark, r,
        Seq("spark"), "w", 3, 10)),
      same("runtimeFieldFacet")(r => runtimeFieldFacet(spark, r,
        Seq("spark"), Seq("lang", "n_chars"),
        "concat(lang, '/', CASE WHEN n_chars > 150 THEN 'long' " +
          "ELSE 'short' END)", 10)),
      same("samplerFacet")(r => samplerFacet(spark, r, Seq("spark"),
        100, "lang", 10)),
      hits("scriptScoreSearch")(r => scriptScoreSearch(spark, r,
        Seq("spark"), Seq("n_chars"), "_score + n_chars / 10.0", 10)),
      same("scriptedMetricFacet")(r => scriptedMetricFacet(spark, r,
        Seq("spark"), "lang", "n_chars", mapScript = "double(v)",
        initScript = "0.0D", reduceScript = "acc + x")),
      hits("searchAfter")(r => searchAfter(spark, r, Seq("spark"), 10,
        Double.MaxValue, 0L)),
      hits("searchFamily")(r => searchFamily(spark, alias(r),
        Seq("spark"), 10)),
      hits("searchTemplate")(r => searchTemplate(spark, r,
        "+{{must}}", Map("must" -> "spark"), 10)),
      same("serialDiffFacet")(r => serialDiffFacet(spark, r,
        Seq("spark"), "n_chars", 100L, 1)),
      same("significantTermsFiltered")(r => significantTermsFiltered(
        spark, r, Seq("spark"), 10, "lang", "de", minDocCount = 1L)),
      same("significantText", fgOf("spark"))(r =>
        significantText(spark, r, Seq("spark"), 10, sampleSize = 100,
          minDocCount = 1L)),
      hits("spanNearSearch")(r => spanNearSearch(spark, r,
        Seq("spark"), Seq("vector"), slop = 2, k = 10)),
      hits("spanNotSearch")(r => spanNotSearch(spark, r,
        Seq("spark"), Seq("join"), k = 10)),
      same("statsBucket")(r => statsBucket(spark, r, Seq("spark"),
        "n_chars", 100L)),
      same("stringStatsFacet")(r => stringStatsFacet(spark, r,
        Seq("spark"), "text")),
      same("tTestFacet")(r => tTestFacet(spark, r,
        Seq("spark", "vector"), "n_chars", "lang", "en", "fr")),
      hits("topHitsFacet")(r => topHitsFacet(spark, r, Seq("spark"),
        "lang", 5)),
      same("topMetricsFacet")(r => topMetricsFacet(spark, r,
        Seq("spark"), "lang", "n_chars", "w")),
      same("variableWidthHistogramFacet")(r =>
        variableWidthHistogramFacet(spark, r, Seq("spark"), "n_chars",
          3)),
      same("weightedAvgFacet")(r => weightedAvgFacet(spark, r,
        Seq("spark"), "n_chars", "w")),
      hits("QueryString.searchFields")(r => QueryString.searchFields(
        spark, Seq("text" -> r), Seq("text" -> 1.0), "spark", 10)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def check(r: Read): Option[String] = r.view match {
    case None =>
      val Seq(f, d) = Seq(full, dead).map(root =>
        r.run(root).select("doc_id").as[Long].collect().toSet)
      if (d(5L)) Some(s"${r.name}: deleted doc 5 in $d")
      else if (!f(5L)) Some(s"${r.name}: doc 5 never reached ($f)")
      else None
    case Some(view) =>
      val Seq(f, d, c) = Seq(full, dead, control)
        .map(root => rows(view(r.run(root))))
      if (d != c) Some(s"${r.name}: deleted $d != never-indexed $c")
      else if (f == d) Some(s"${r.name}: doc 5 never reached ($f)")
      else None
  }

  test("every live-docs read hides a deleted doc: its hit list drops " +
    "the doc, its aggregates equal an index that never held it") {
    val failures = reads.flatMap(r =>
      scala.util.Try(check(r)).fold(e => Some(s"${r.name}: $e"), identity))
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
