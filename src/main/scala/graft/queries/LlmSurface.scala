package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{Dedup, GeoOps, Multimodal, Pipeline, Search, SegmentedIndex, Similarity, TextOps}

/** LLM-data-pipeline query surface (SURVEY §2.3): search-engine,
  * deduplication, similarity-search, text-analysis and multimodal
  * operators over the `documents` / `embeddings` fixtures, each with a
  * DuckDB oracle that reproduces the computation bit-for-bit (portable
  * arithmetic hashes, fixed-order float folds — see the operator
  * modules for the determinism contracts).
  */
object LlmSurface {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "documents")
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")

  /** Query terms for the TF-IDF search demo. */
  val searchTerms: Seq[String] = Seq("spark", "join", "vector")

  /** The STAGED standard segmented index for a fixture — the
    * write-once half of every PROBE-ONLY segment query (search,
    * searchAfter, maxscore, bm25 audit, fuzzy, phrase, highlight,
    * bool, facet, histogram, significant terms, sorted search, term
    * vectors, PIT): one shared build instead of a per-invocation
    * rebuild, mirroring [[Search.ensureBm25Index]]'s
    * build-cost-is-ingest posture. Standard lifecycle — two appends +
    * one tombstone batch over the bounded corpus (q150's rule) — so
    * every oracle's `doc_id % 37 <> 5` live-set filter holds.
    * Idempotent at zero
    * marginal cost: append/delete batch-key guards make warm
    * re-invocations manifest-parse-only no-ops. MUTATING queries
    * (upsert, merge, snapshot, reindex, delete-by-query, rebase)
    * keep their own per-invocation roots — their mutations ARE the
    * demonstration and must not touch the shared artifact. The root
    * carries a layout token: a segment-format change must bump it so
    * a stale tmp dir from an older build can never serve. */
  def segIndexDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    // the completion MAPPING (cf= header) binds on first commit —
    // q219 serves from the per-segment `_cfield/` artifact
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a",
      completionField = Some(("source", "n_chars")))
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The staged left/right corpus-split index pair behind the
    * federated multi-index probe (q182) — same contract as
    * [[segIndexDir]], each side tombstoning its own `% 37` docs. */
  def segIndexPairDirs(s: SparkSession, d: String): (String, String) = {
    val stem = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    val dl = dd.filter(col("doc_id") < 75)
    val dr = dd.filter(col("doc_id") >= 75)
    SegmentedIndex.append(s, stem + "_l", dl, "a", nBuckets = 8)
    SegmentedIndex.append(s, stem + "_r", dr, "a", nBuckets = 4)
    SegmentedIndex.delete(s, stem + "_l",
      dl.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    SegmentedIndex.delete(s, stem + "_r",
      dr.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    (stem + "_l", stem + "_r")
  }

  /** The staged ENGLISH-analyzed segmented index — [[segIndexDir]]'s
    * exact lifecycle (two appends + one tombstone batch, same bounded
    * corpus and `% 37` live-set rule) under the `english` analyzer
    * chain (lowercase + Lucene stopwords + light stemmer), the
    * fidelity tier matching what the ES the reference writes to does
    * to every text field. Probe-only queries q202/q204 read it; the
    * oracles mirror the chain in DuckDB SQL
    * ([[graft.operators.Analyzer.stemSql]] is dialect-shared). */
  def segIndexEnDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_en_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a", analyzer = "english")
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The staged SPARSE-mapping index behind the missing-agg probe —
    * [[segIndexDir]]'s lifecycle with one twist: the second append
    * carries NO `source` column (ES's sparse mapping — a document
    * need not contain every mapped field), so `missing` has real
    * rows to count. Even docs get the field, odd docs don't. */
  def segIndexSparseDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_sp_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang", "source"), "a")
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang"), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The staged TILE-PARTITIONED geo layout — customers enriched
    * with the deterministic coordinate lattice
    * ([[GeoOps.withSyntheticGeo]]) and written into zoom-3 tile
    * directories (`pt=3_x_y/`), the BKD-upper-levels analogue every
    * geo probe prunes against at planning time. Idempotent staged
    * build keyed by the fixture dir (Bucketing's atomic staging). */
  def geoDir(s: SparkSession, d: String): String =
    graft.engine.Bucketing.ensurePartitioned(s, d,
      GeoOps.withSyntheticGeo(Tables.table(s, d, "customer"),
          "c_custkey")
        .withColumn("pt",
          GeoOps.tileKey(col("lat"), col("lon"), 3, sep = "_")),
      Seq("pt"), "geo")

  /** The tile IN-list for a box probe over [[geoDir]] — driver
    * arithmetic on four constants ([[GeoOps.tilesCovering]]), never
    * a data pass. */
  private def geoTiles(top: Double, left: Double, bottom: Double,
                       right: Double): Seq[String] =
    GeoOps.tilesCovering(top, left, bottom, right, 3)
      .map(_.replace('/', '_'))

  /** The CUSTOM analysis-settings chain behind q217 — ES's
    * per-index `settings.analysis` knobs (an extra stopword + two
    * index-time synonym rules) on the english base; the canonical
    * spec string IS the analyzer name the manifest carries. */
  val synChainSpec: String = graft.operators.Analyzer.custom(
    "english",
    extraStopwords = Seq("table"),
    synonyms = Seq("big" -> "large", "fast" -> "quick")).name

  /** The staged CUSTOM-SETTINGS segmented index — [[segIndexDir]]'s
    * lifecycle under [[synChainSpec]] (q217 probes it; the oracle
    * replays the base analysis + synonym stacking in DuckDB SQL). */
  def segIndexSynDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_syn_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a", analyzer = synChainSpec)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The GROUP + QUERY-TIME synonym chain behind q227/q228 — an
    * equivalence group (`big, large`, canonicalized to the directed
    * closure at index time) plus a search-analyzer synonym
    * (`rapid > fast`, expanded at QUERY time with per-term df — never
    * stacked at ingest). */
  val grpChainSpec: String = graft.operators.Analyzer.customGroups(
    "english",
    groups = Seq(Seq("big", "large")),
    querySynonyms = Seq("rapid" -> "fast")).name

  /** The staged GROUP/QSYN segmented index — [[segIndexDir]]'s
    * lifecycle under [[grpChainSpec]]. */
  def segIndexGrpDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_grp_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a", analyzer = grpChainSpec)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The MULTI-WORD (graph) query-synonym chain behind q348 —
    * `nyc > new york` in the SEARCH analyzer: the index is never
    * touched, the query rewrites to TermQuery(nyc) OR
    * PhraseQuery(new york) (Lucene's SynonymGraphFilter query-time
    * behavior, round-18). */
  val graphChainSpec: String = graft.operators.Analyzer.custom(
    "standard", querySynonyms = Seq("nyc" -> "new york")).name

  /** The staged GRAPH-synonym index: the fixture corpus contains
    * none of nyc/new/york, so the striping rule plants them —
    * doc%9==2 gains adjacent "new york" (the phrase clause's hits),
    * doc%9==5 gains the literal "nyc" (the term clause's), doc%9==7
    * gains REVERSED "york new" (the adjacency control that must NOT
    * match). Usual two-batch + tombstone lifecycle. */
  def segIndexGraphDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_graph_sx18_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 9 === 2, lit(" new york"))
          .when(col("doc_id") % 9 === 5, lit(" nyc"))
          .when(col("doc_id") % 9 === 7, lit(" york new"))
          .otherwise(lit(""))))
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a",
      analyzer = graphChainSpec)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The three CDC change batches every maintained-view roundtrip
    * feeds — factored so the staged chain and the per-query oracles
    * derive from ONE definition. */
  private def chainBatch(base: DataFrame, i: Int): DataFrame = i match {
    case 1 => base.filter(col("doc_id") % 11 === 3)
        .withColumn("n_chars", col("n_chars") + lit(1000L))
        .withColumn("op", lit("U"))
      .unionByName(base.filter(col("doc_id") < 4)
        .withColumn("doc_id", col("doc_id") + lit(5000000L))
        .withColumn("op", lit("U")))
      .unionByName(base.filter(col("doc_id") % 11 === 7)
        .withColumn("op", lit("D")))
    case 2 => base.filter(col("doc_id") % 11 === 5)
        .withColumn("n_chars", col("n_chars") + lit(500L))
        .withColumn("op", lit("U"))
      .unionByName(base.filter(col("doc_id") < 2)
        .withColumn("doc_id", col("doc_id") + lit(6000000L))
        .withColumn("op", lit("U")))
      .unionByName(base.filter(col("doc_id") % 11 === 3)
        .withColumn("op", lit("D")))
    case 3 => base.filter(col("doc_id") % 11 === 9)
        .withColumn("n_chars", col("n_chars") + lit(250L))
        .withColumn("op", lit("U"))
      .unionByName(base.filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + lit(7000000L))
        .withColumn("op", lit("U")))
      .unionByName(base.filter(col("doc_id") % 11 === 5)
        .withColumn("op", lit("D")))
  }

  /** The STAGED maintained-view chain for a fixture — the write-once
    * half of the q158/q163/q173/q177 roundtrips, mirroring
    * [[segIndexDir]]'s posture: one shared 3-epoch summary chain +
    * 2-epoch top-k chain instead of a per-invocation rebuild (the
    * absorbs were the three slowest bench entries, rebuilt on every
    * run). Probe queries pin their ORIGINAL semantics through the
    * store's version parameter (q158/q177 read AT version 1 —
    * time-travel is the layout's own feature); the one MUTATING
    * query (q163's prune) clones the summary store driver-side
    * first. Concurrency-safe: the chain builds in a temp sibling and
    * publishes by ONE atomic rename, losers discard; a torn root
    * (no `_COMPLETE`) is replaced, never adopted. Returns
    * (logDir, summaryDir, viewLogDir, viewDir). */
  def summaryChainDirs(s: SparkSession,
                       d: String): (String, String, String, String) = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_vchain_sx7a_" + graft.engine.Bucketing.fingerprint8(d))
    if (!new java.io.File(root, "_COMPLETE").isFile) {
      if (root.exists()) graft.engine.Bucketing.deleteTree(root)
      val tmp = new java.io.File(root.getParentFile,
        root.getName + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      val log = new java.io.File(tmp, "log").getPath
      val sum = new java.io.File(tmp, "summary").getPath
      val logv = new java.io.File(tmp, "logv").getPath
      val view = new java.io.File(tmp, "view").getPath
      (1 to 3).foreach { i =>
        Pipeline.absorbSummaryBatch(chainBatch(base, i), base, log,
          sum, "doc_id", "source", "n_chars", epoch = (i - 1).toLong)
      }
      (1 to 2).foreach { i =>
        Pipeline.absorbTopKBatch(chainBatch(base, i), base, logv,
          view, "doc_id", "source", "n_chars", k = 3,
          epoch = (i - 1).toLong)
      }
      java.nio.file.Files.createFile(
        new java.io.File(tmp, "_COMPLETE").toPath)
      try graft.engine.Fs.renameNoReplace(tmp, root)
      catch { case _: Throwable =>
        graft.engine.Bucketing.deleteTree(tmp) // another builder won
      }
    }
    (new java.io.File(root, "log").getPath,
      new java.io.File(root, "summary").getPath,
      new java.io.File(root, "logv").getPath,
      new java.io.File(root, "view").getPath)
  }

  private def copyDirTree(from: java.io.File,
                          to: java.io.File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten
        .foreach(f => copyDirTree(f, new java.io.File(to, f.getName)))
    } else
      java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The staged PRE-DELETE standard index — [[segIndexDir]]'s two
    * appends WITHOUT the tombstone batch: the source fixture for
    * mutation roundtrips that need a clean starting state (q174's
    * snapshot demo clones it driver-side instead of re-tokenizing
    * the corpus per invocation). */
  def segIndexPreDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_pre_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a")
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    root
  }

  /** The STAGED rollover family for a fixture — q205's aggregation
    * fixture (q196 keeps building per invocation: the rollover CALL
    * is that entry's demonstration; here the family is just the
    * layout the family-wide aggregation reads). Built through the
    * real alias+rollover lifecycle in a temp sibling, published by
    * one atomic rename; the alias file is REWRITTEN post-publish
    * (it stores an absolute target path) — idempotent bytes, so a
    * racing loser's rewrite is benign. Returns the alias path. */
  def familyAliasPath(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_family_sx7a_" + graft.engine.Bucketing.fingerprint8(d))
    val alias = new java.io.File(root, "write-alias")
    if (!new java.io.File(root, "_COMPLETE").isFile) {
      if (root.exists()) graft.engine.Bucketing.deleteTree(root)
      val tmp = new java.io.File(root.getParentFile,
        root.getName + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
      val stem = new java.io.File(tmp, "logs").getPath
      val ta = new java.io.File(tmp, "write-alias").getPath
      SegmentedIndex.createIndex(stem + "-000001")
      SegmentedIndex.setAlias(ta, stem + "-000001")
      val dd = docs(s, d).filter(col("doc_id") < 150)
      SegmentedIndex.append(s, SegmentedIndex.resolveAlias(ta),
        dd.filter(col("doc_id") < 100), "a")
      SegmentedIndex.rollover(ta, maxDocs = 50L)
      SegmentedIndex.append(s, SegmentedIndex.resolveAlias(ta),
        dd.filter(col("doc_id") >= 100), "b")
      // the build-time alias points into the temp path — drop it and
      // rewrite against the published location after the rename
      new java.io.File(ta).delete()
      try graft.engine.Fs.renameNoReplace(tmp, root)
      catch { case _: Throwable =>
        graft.engine.Bucketing.deleteTree(tmp) // another builder won
      }
      SegmentedIndex.setAlias(alias.getPath,
        new java.io.File(root, "logs-000002").getPath)
      new java.io.File(root, "_COMPLETE").createNewFile()
    }
    alias.getPath
  }

  /** The staged PRE-ROLLOVER family template behind q196: the
    * tokenize-heavy first append (100 docs into `logs-000001`)
    * happens ONCE per fixture, outside the timed window; each q196
    * invocation clones the template driver-side (bounded segment-dir
    * file copies — the [[segIndexClone]] pattern) and demonstrates
    * the lifecycle itself on the clone: the alias flip, the
    * post-flip append, the family search. Built in a temp sibling,
    * atomic-rename publish (no alias file in the template — the
    * alias stores an absolute path, so each clone mints its own). */
  private def familyPreRoot(s: SparkSession, d: String): java.io.File = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_ropre_sx7a_" + graft.engine.Bucketing.fingerprint8(d))
    if (!new java.io.File(root, "_COMPLETE").isFile) {
      if (root.exists()) graft.engine.Bucketing.deleteTree(root)
      val tmp = new java.io.File(root.getParentFile,
        root.getName + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
      SegmentedIndex.createIndex(
        new java.io.File(tmp, "logs-000001").getPath)
      SegmentedIndex.append(s,
        new java.io.File(tmp, "logs-000001").getPath,
        docs(s, d).filter(col("doc_id") < 100), "a")
      java.nio.file.Files.createFile(
        new java.io.File(tmp, "_COMPLETE").toPath)
      try graft.engine.Fs.renameNoReplace(tmp, root)
      catch { case _: Throwable =>
        graft.engine.Bucketing.deleteTree(tmp) // another builder won
      }
    }
    root
  }

  /** Stage hook for the rollover-entry template (q196). */
  def rolloverStage(s: SparkSession, d: String): Unit = {
    familyPreRoot(s, d)
    ()
  }

  /** Clone the q196 template into a fresh per-invocation family dir
    * and mint its alias at `logs-000001`. Returns the alias path. */
  def familyPreClone(s: SparkSession, d: String): String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_ro_" + graft.engine.Bucketing.fingerprint8(d) +
        "_" + java.util.UUID.randomUUID().toString.take(8))
    copyDirTree(familyPreRoot(s, d), dir)
    new java.io.File(dir, "_COMPLETE").delete()
    val alias = new java.io.File(dir, "write-alias").getPath
    SegmentedIndex.setAlias(alias,
      new java.io.File(dir, "logs-000001").getPath)
    alias
  }

  /** q175's INGEST half, also invoked from `SparkEntry.stage`: the
    * PQ-append base index and both appended tiers land outside the
    * timed window (all idempotent per fixture key / batch key), so a
    * cold container's first q175 run measures IVF-PQ serving over
    * base ∪ appended — not the PQ training re-stage that made it a
    * cold-bench outlier. */
  def pqAppendStage(s: SparkSession, d: String): Unit = {
    val fk = s"$d#pqappend"
    Similarity.ensurePqIndex(s, fk, emb(s, d), "vec_id < 8")
    def batch = emb(s, d).filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.ivfAppendOnce(s, fk, emb(s, d), "vec_id < 8",
      batch, batchKey = "pq-batch1")
    Similarity.pqAppendOnce(s, fk, emb(s, d), "vec_id < 8",
      batch, batchKey = "pq-batch1")
  }

  /** q203's staged MIGRATION destination: the whitespace staged
    * index reindexed under the english chain — idempotent per
    * destination through append's batch-key guard. */
  def reindexEnDir(s: SparkSession, d: String): String = {
    val dst = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_enrx_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    SegmentedIndex.reindex(s, segIndexDir(s, d), dst, nBuckets = 8,
      analyzer = Some("english"))
    dst
  }

  /** Stage hook for `SparkEntry.stage`: build the shared segment
    * indexes up front so query entries measure probe cost only. */
  /** The staged SECOND analyzed FIELD of the [[segIndexDir]] index —
    * `meta` = "source lang" tokenized — as its own postings family
    * over the SAME doc-id space and live set (two appends split
    * `% 5`, the `% 37` tombstone batch). This is Lucene's multi-field
    * mapping with the field dimension lifted into the directory
    * layout: per-field postings are independent inverted indexes
    * sharing doc ids, which is exactly what `multi_match` combines —
    * each field scores with its OWN df/N
    * ([[SegmentedIndex.multiMatchSearch]]'s statistics contract). */
  def segIndexMetaDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_mf_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
      .withColumn("text", concat_ws(" ", col("source"), col("lang")))
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a")
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The staged PARENT/CHILD index behind the join-field queries —
    * [[segIndexDir]]'s lifecycle over a relation-mapped corpus:
    * every third doc (`% 3 == 0`) is a `question` parent, the other
    * two are `answer` children pointing at it (`parent_id =
    * doc_id - doc_id % 3` — ES's join field as two sparse stored
    * columns). The `% 37` tombstone batch lands on BOTH roles
    * (doc 42 is a deleted parent), so the queries' live-relation
    * rules have real rows to prove. */
  def segIndexJoinDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_pc_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
      .withColumn("join_name",
        when(col("doc_id") % 3 === 0, lit("question"))
          .otherwise(lit("answer")))
      .withColumn("parent_id",
        when(col("doc_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(col("doc_id") - col("doc_id") % 3))
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a")
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  /** The staged NESTED-documents family — ES's `nested` mapping in
    * Lucene's own layout (each sub-object a hidden sub-document of
    * the parent's block), the path lifted into its own segment
    * family: every parent doc (`doc_id < 150`, [[segIndexDir]]'s
    * corpus) carries 3 sub-objects (ord 0..2), each indexed as its
    * own doc (nested id = parent·4 + ord) with
    *   author = 'a' + ((parent + ord) % 7)      (a nested keyword)
    *   text   = the parent's tokens at positions ≡ ord (mod 3)
    * — deterministic striping, so sub-objects hold DIFFERENT token
    * sets (the block-isolation semantics have real rows) and the
    * oracle can replay the derivation from `documents` alone. Block
    * deletes follow Lucene: the `% 37` parent tombstone batch kills
    * the parents' WHOLE nested blocks here, mirroring
    * [[segIndexDir]]'s parent-side tombstones. */
  def segIndexNestedDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_nd_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val nested = docs(s, d).filter(col("doc_id") < 150)
      .select(col("doc_id").as("parent_id"), col("text"),
        explode(sequence(lit(0L), lit(2L))).as("ord"))
      .withColumn("author", concat(lit("a"),
        pmod(col("parent_id") + col("ord"), lit(7L)).cast("string")))
      .withColumn("text", concat_ws(" ",
        expr("filter(split(text, ' '), (t, i) -> i % 3 = ord)")))
      .withColumn("doc_id", col("parent_id") * 4 + col("ord"))
      .select("doc_id", "parent_id", "ord", "author", "text")
    SegmentedIndex.append(s, root,
      nested.filter(col("parent_id") % 5 =!= 0), "a")
    SegmentedIndex.append(s, root,
      nested.filter(col("parent_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      nested.filter(col("parent_id") % 37 === 5).select("doc_id"),
      "d1")
    root
  }

  /** The staged CONTEXT-mapped completion index — [[segIndexDir]]'s
    * lifecycle with the completion mapping extended by a CONTEXT
    * field (`source:n_chars:lang` — ES's category contexts): each
    * suggestion row carries its doc's lang, and a suggest request
    * may filter on one context value. */
  def segIndexCtxDir(s: SparkSession, d: String): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segidx_cx_sx7a_" +
        graft.engine.Bucketing.fingerprint8(d)).getPath
    val dd = docs(s, d).filter(col("doc_id") < 150)
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 =!= 0), "a",
      completionField = Some(("source", "n_chars")),
      completionContext = Some("lang"))
    SegmentedIndex.append(s, root,
      dd.filter(col("doc_id") % 5 === 0), "b")
    SegmentedIndex.delete(s, root,
      dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
    root
  }

  def segIndexStage(s: SparkSession, d: String): Unit = {
    segIndexDir(s, d)
    segIndexMetaDir(s, d)
    segIndexJoinDir(s, d)
    segIndexNestedDir(s, d)
    segIndexCtxDir(s, d)
    segIndexPairDirs(s, d)
    segIndexEnDir(s, d)
    segIndexSynDir(s, d)
    segIndexGrpDir(s, d)
    segIndexGraphDir(s, d)
    segIndexPreDir(s, d)
    summaryChainDirs(s, d)
    familyAliasPath(s, d)
    reindexEnDir(s, d)
    ()
  }

  /** A private MUTABLE clone of the staged index for the MUTATING
    * roundtrips (merge, upsert-fetch, delete-by-query): one
    * [[SegmentedIndex.snapshot]] — driver-side copies of the bounded
    * segment directories, far cheaper than re-tokenizing the corpus —
    * into a per-invocation root the mutation can own without touching
    * the shared artifact. */
  private def segIndexClone(s: SparkSession, d: String,
                            tag: String): String = {
    val src = segIndexDir(s, d)
    val dst = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_segclone_" + tag + "_" +
        java.util.UUID.randomUUID().toString.take(8)).getPath
    SegmentedIndex.snapshot(src, dst)
    dst
  }

  /** q140's ingest half, also invoked from `SparkEntry.stage`: a
    * dedicated staged IVF index (fixture key suffixed `#append`, so
    * q129/q132's shared index never sees appended rows) plus one
    * idempotent batch append — 20 fixture vectors with ids shifted by
    * 1e6, the deterministic stand-in for newly-ingested embeddings.
    */
  def ivfAppendStage(s: SparkSession, d: String): Unit = {
    Similarity.ivfAppendOnce(s, s"$d#append", emb(s, d), "vec_id < 8",
      emb(s, d).filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L)),
      batchKey = "batch1")
    ()
  }

  val queries: Map[String, Q] = Map(
    // --- analysis chain: tokenize + term frequencies ---
    "q24_tokenize" -> ((s, d) =>
      docs(s, d)
        .select(explode(TextOps.tokens("text")).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("term"))),

    // --- inverted index: term -> document stats ---
    "q25_inverted_index" -> ((s, d) =>
      Search.invertedIndex(docs(s, d))
        .select(col("term"), col("doc_freq"),
          col("total_tf").cast("long").as("total_tf"))
        .orderBy("term")),

    // --- TF-IDF term search (ES _search analogue) ---
    "q26_tfidf_search" -> ((s, d) =>
      Search.search(docs(s, d), searchTerms, 20)),

    // --- fuzzy term search (ES `fuzziness` analogue): misspelled
    //     query terms resolve to every vocabulary term within edit
    //     distance 1 via asymmetric SymSpell blocking (query variants
    //     are a broadcast literal, the vocabulary explodes once), and
    //     each resolved pair returns its tf·idf top-5 docs. Per-pair
    //     scoring is one mul/div chain — no cross-term float sums —
    //     so the data-dependent match set stays oracle-exact
    //     (Search.fuzzySearch) ---
    "q152_fuzzy_search" -> ((s, d) =>
      Search.fuzzySearch(docs(s, d), Seq("spqrk", "joinn", "vector"),
        k = 5)),

    // --- fuzziness AUTO (Lucene parity): query terms of length ≥ 6
    //     allow TWO edits — "vectro" (transposition) and "cusotmer"
    //     (transposition) resolve at distance 2 while the 4-char
    //     "join" stays at one edit; same asymmetric SymSpell blocking
    //     at deletion depth 2, depth-2 variants generated only for
    //     length-6+ terms on both sides (the recall proof is in
    //     Search.fuzzySearch's scaladoc; the oracle is the honest
    //     vocab×query quadratic with the same allowance rule) ---
    "q159_fuzzy_auto" -> ((s, d) =>
      Search.fuzzySearch(docs(s, d), Seq("vectro", "cusotmer", "join"),
        k = 5, maxDist = 2)),

    // --- search-result highlighting (ES `highlight` analogue):
    //     ±3-token snippet around the first query-term occurrence,
    //     matched terms wrapped in [...] — per-row codegen'd array
    //     expressions, no shuffle; deterministic first-occurrence
    //     rule makes the snippet text oracle-exact (Search.highlight) ---
    "q153_highlight" -> ((s, d) =>
      Search.highlight(docs(s, d), searchTerms, window = 3)),

    // --- BM25, the PRODUCTION scorer behind the reference's ES
    //     search (k1/b saturation + log idf): single-term top-20 with
    //     the cross-engine certificate — for one term the BM25 order
    //     equals the order of an exact integer ratio (rank_key, one
    //     int64÷int64 division — correctly rounded ⇒ monotone and
    //     bit-identical), so the oracle reproduces the RANKING
    //     exactly while the log-based score rides through its
    //     literal-TRUE contracts (Search.bm25RankAudit) ---
    "q156_bm25_rank" -> ((s, d) =>
      Search.bm25RankAudit(docs(s, d), "data", k = 20)),

    // --- BM25 multi-term path over every matching doc: exact
    //     (n_terms_hit, total_tf, dl) per doc plus the saturation
    //     contract 0 < score < Σ idf·(k1+1) as a literal-TRUE
    //     boolean; rank properties live in SearchSpec
    //     (Search.bm25Matches) ---
    "q157_bm25_multi" -> ((s, d) =>
      Search.bm25Matches(docs(s, d), searchTerms)),

    // --- the MULTI-TERM BM25 rank certificate (closing q157's gap:
    //     matched sets and saturation bounds were oracled, the
    //     multi-term ORDER itself was spec-only): a data-chosen
    //     EQUAL-df term pair makes the two-term production ranking
    //     reduce to the exact integer-ratio key
    //     (tf_a·D_b + tf_b·D_a)/(D_a·D_b) over the common
    //     denominator — rank_agrees literal-TRUE for a genuinely
    //     multi-term score, partial matches included
    //     (Search.bm25PairRankAudit) ---
    "q176_bm25_pair_rank" -> ((s, d) =>
      Search.bm25PairRankAudit(docs(s, d), k = 20)),

    // --- BM25 served from the PERSISTED index (Lucene's on-disk
    //     shape: the whole corpus as one segment of term-bucketed
    //     postings with the dl norm inline, no tombstones — staged
    //     once by SparkEntry.stage): q156's exact integer-ratio rank
    //     certificate, but the corpus is not in the plan at all —
    //     tf/dl/df come from the bucket-pruned postings scan,
    //     (N, totalLen) from the manifest header. The oracle
    //     recomputes from the raw table, so a hash match certifies
    //     the index faithfully serves the live ranking
    //     (SegmentedIndex.bm25RankAudit) ---
    "q164_bm25_indexed" -> ((s, d) =>
      SegmentedIndex.bm25RankAudit(s,
        Search.ensureBm25Index(s, d, docs(s, d)), "data", k = 20)),

    // --- SEGMENTED full-text index, pre-merge phase (Lucene's
    //     segment + live-docs architecture — what actually sits under
    //     every ES shard the reference writes to): two ingest batches
    //     land as immutable term-hash-partitioned segments, a delete
    //     batch lands as a TOMBSTONE segment, and the search shows
    //     Lucene's exact statistics semantics — the hit list excludes
    //     tombstoned docs immediately, while N and df still COUNT
    //     them (stats shift only at merge). Segment/tombstone counts
    //     and the stats-phase N ride as oracle columns
    //     (SegmentedIndex.append/delete/search) ---
    // --- MAXSCORE dynamic pruning on the segmented index (Lucene's
    //     WAND/MaxScore serving optimization, batch two-phase form):
    //     per-term score ceilings from the dictionary's max_tf
    //     impacts, phase-1 threshold from the top-ceiling term's
    //     list, then only documents matching an essential term are
    //     scored. PROVABLY exact — the oracle is the plain exhaustive
    //     tf·(N/df) ranking, so a hash match certifies the pruned
    //     path end-to-end (SegmentedIndex.maxScoreSearch; the
    //     skew-corpus pruning proof lives in SegmentedIndexSpec) ---
    "q178_maxscore" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir) — build
      // cost is ingest, the query measures MaxScore serving
      SegmentedIndex.maxScoreSearch(s, segIndexDir(s, d),
        searchTerms, 20)),

    // --- terms AGGREGATION from the index (ES `aggs.terms`, the
    //     other half of every search request): documents matching any
    //     query term bucket by their stored `source` field and count,
    //     over the FULL hit set (not the top-k page). Field values
    //     read column-pruned from the stored-fields parquet — the
    //     doc-values behavior ES builds a separate columnar store
    //     for; the corpus is never scanned
    //     (SegmentedIndex.facet) ---
    "q179_facet" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.facet(s, segIndexDir(s, d), searchTerms,
        "source", kBuckets = 10)),

    // --- histogram aggregation from the index (ES `aggs.histogram`
    //     with its default min_doc_count=0 gap-filling): matched live
    //     docs bucket by floor(n_chars/50)·50, every interval between
    //     the occupied bounds appears, empty ones at zero; field
    //     values column-pruned from the stored parquet
    //     (SegmentedIndex.histogramFacet) ---
    "q181_histogram_facet" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.histogramFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars", interval = 50L)),

    // --- PIPELINE aggregations (ES's parent pipeline tier —
    //     cumulative_sum + derivative + moving_fn over the q181
    //     histogram, then a bucket_selector): running total,
    //     bucket-over-bucket delta (first bucket null — ES omits it),
    //     trailing-3 moving average (exact long sums, one division),
    //     and buckets below min doc_count leave the response AFTER
    //     every pipeline value computed over the full gap-filled
    //     series — ES's reduce order. The windows run over the
    //     bucket series, exactly where ES computes them
    //     (SegmentedIndex.histogramPipelineFacet) ---
    "q231_pipeline_aggs" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.histogramPipelineFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 50L, movingWindow = 3,
        minDocCount = 1L)),

    // --- SIBLING pipeline aggregation (ES `stats_bucket` — the
    //     avg/min/max/sum_bucket family in one row): statistics
    //     ACROSS the histogram's doc_count series, zero-filled
    //     buckets included (gap_policy on a min_doc_count=0
    //     histogram) (SegmentedIndex.statsBucket) ---
    "q232_stats_bucket" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.statsBucket(s, segIndexDir(s, d), searchTerms,
        "n_chars", interval = 50L)),

    // --- filters aggregation (ES `aggs.filters`, keyed): three named
    //     term-query buckets counted from ONE postings scan of their
    //     union; the all-miss bucket still appears at zero (ES's
    //     keyed response shape) (SegmentedIndex.filtersFacet) ---
    "q233_filters_agg" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.filtersFacet(s, segIndexDir(s, d),
        Seq("sparkish" -> Seq("spark"),
          "joiny" -> Seq("join", "vector"),
          "none" -> Seq("zz-absent-term")))),

    // --- adjacency-matrix aggregation (ES `adjacency_matrix`):
    //     per-filter buckets plus every non-empty pairwise
    //     intersection under the 'a&b' key — the co-occurrence
    //     matrix; empty cells omitted (ES's rule for this agg,
    //     unlike `filters`) (SegmentedIndex.adjacencyMatrix) ---
    "q234_adjacency_matrix" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.adjacencyMatrix(s, segIndexDir(s, d),
        Seq("j" -> Seq("join"), "s" -> Seq("spark"),
          "v" -> Seq("vector")))),

    // --- percentile-ranks aggregation (ES `percentile_ranks` — the
    //     inverse percentiles): the percent of live hit docs'
    //     n_chars at or below each requested value, exact integer
    //     counts over one division (ES serves TDigest; the sketch
    //     swap is the cardinality note)
    //     (SegmentedIndex.percentileRanksFacet) ---
    "q235_percentile_ranks" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.percentileRanksFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", Seq(100L, 400L, 2000L))),

    // --- exists query (ES `exists`, filter context): live docs whose
    //     stored field carries a value, constant score, IsNotNull
    //     pushed into the column-pruned stored scan
    //     (SegmentedIndex.existsQuery) ---
    "q236_exists_query" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.existsQuery(s, segIndexDir(s, d), "source",
        k = 25)),

    // --- two-term sloppy phrase (ES `match_phrase` + `slop`): a doc
    //     matches when some occurrence pair needs <= slop position
    //     moves to become adjacent in order (|q-p-1| — a gap of g
    //     costs g, a transposition costs 2, ES's documented
    //     arithmetic); the min-moves fold runs inside one codegen'd
    //     array expression over the inline position arrays
    //     (SegmentedIndex.sloppyPhraseSearch) ---
    "q237_sloppy_phrase" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.sloppyPhraseSearch(s, segIndexDir(s, d),
        "spark", "join", slop = 3, k = 20)),

    // --- indices_boost (ES's per-index relevance weighting — "hits
    //     from the newer index matter more"): multiSearch's exact
    //     global-stats scoring, each hit multiplied by its index's
    //     boost BEFORE the global top-k
    //     (SegmentedIndex.multiSearchBoosted) ---
    "q238_indices_boost" -> ((s, d) => {
      // probe-only against the STAGED corpus-split index pair
      val (left, right) = segIndexPairDirs(s, d)
      SegmentedIndex.multiSearchBoosted(s,
        Seq(("left", left, 1.5), ("right", right, 1.0)),
        searchTerms, k = 20)
    }),

    // --- function_score LINEAR decay (ES's decay family — prefer
    //     docs near origin on a numeric field): the linear kernel is
    //     pure arithmetic (λ = scale/(1−decay); mult =
    //     max(0, (λ−|v−origin|)/λ)), so the decayed ranking stays
    //     hash-exact where gauss/exp's libm calls could not
    //     (SegmentedIndex.decayScoreSearch) ---
    "q239_decay_score" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.decayScoreSearch(s, segIndexDir(s, d),
        searchTerms, "n_chars", origin = 500L, scale = 400L,
        k = 20)),

    // --- named queries (ES bool `_name` / matched_queries): each hit
    //     reports WHICH named clauses matched it, comma-joined sorted
    //     (ES returns an array; the string keeps the hash surface)
    //     (SegmentedIndex.namedQueriesSearch) ---
    "q240_named_queries" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.namedQueriesSearch(s, segIndexDir(s, d),
        Seq("alpha" -> Seq("spark"), "beta" -> Seq("join", "vector")),
        k = 30)),

    // --- terms_set query (ES's "match at least M of N terms" — the
    //     tunable middle between OR and AND): search's scored hits
    //     constrained to docs matching >= 2 of the 3 terms
    //     (SegmentedIndex.termsSetQuery) ---
    "q241_terms_set" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termsSetQuery(s, segIndexDir(s, d), searchTerms,
        minMatch = 2, k = 20)),

    // --- dis_max query (ES's disjunction max — clauses compete
    //     instead of piling up): score = best clause +
    //     tie_breaker·(rest); exact per-clause pivots meet in
    //     full-outer joins, max + one multiply keeps it hash-exact
    //     (SegmentedIndex.disMaxSearch) ---
    "q242_dis_max" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.disMaxSearch(s, segIndexDir(s, d),
        Seq(Seq("spark", "join"), Seq("vector")), tieBreaker = 0.3,
        k = 20)),

    // --- span_first query (Lucene/ES `span_first` — the term within
    //     the first N positions, title-ish matching without a title
    //     field): array_min over the inline positions inside the
    //     pruned scan (SegmentedIndex.spanFirstSearch) ---
    "q243_span_first" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.spanFirstSearch(s, segIndexDir(s, d), "spark",
        end = 5L, k = 20)),

    // --- field capabilities (ES `GET /_field_caps` — the schema
    //     introspection every Kibana session opens with): fields and
    //     types merged across the live segments' stored schemas,
    //     parquet footer reads only (SegmentedIndex.fieldCaps) ---
    "q244_field_caps" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.fieldCaps(s, segIndexDir(s, d))),

    // --- geo_bounding_box (ES geo query family, filter context):
    //     the box over the staged tile layout — a tile IN-list
    //     prunes whole directories at planning time, the lat/lon
    //     range predicates push into the surviving scans' footers,
    //     edges inclusive (GeoOps.boundingBox) ---
    "q245_geo_bbox" -> ((s, d) => {
      val (top, left, bottom, right) = (30.0, -40.0, -10.0, 20.0)
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(top, left, bottom, right): _*))
      GeoOps.boundingBox(g, top, left, bottom, right)
        .select("c_custkey", "lat", "lon")
        .orderBy("c_custkey").limit(40)
    }),

    // --- geo_distance query + _geo_distance sort (ES's
    //     "near me" read): radius → bounding box (tile pruning +
    //     pushdown) → exact squared-degree ring check → plane
    //     distance, nearest first (GeoOps.distanceSearch) ---
    "q246_geo_distance" -> ((s, d) => {
      val rDeg = 1500000.0 / GeoOps.MetersPerDegree
      val (olat, olon) = (10.0, 20.0)
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(olat + rDeg, olon - rDeg,
          olat - rDeg, olon + rDeg): _*))
      GeoOps.distanceSearch(g, "c_custkey", olat, olon,
          radiusM = 1500000.0, k = 25)
        .withColumnRenamed("c_custkey", "id")
    }),

    // --- geo_distance AGGREGATION (ES's ring-bucket agg): ring
    //     doc_counts around an origin, from inclusive / to
    //     exclusive, every requested ring present (empty → 0);
    //     assignment is squared-degree arithmetic — zero libm
    //     (GeoOps.distanceRings) ---
    "q247_geo_rings" -> ((s, d) => {
      val edges = Seq(500000.0, 1000000.0, 2000000.0, 4000000.0)
      val rDeg = edges.last / GeoOps.MetersPerDegree
      val (olat, olon) = (0.0, 0.0)
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(olat + rDeg, olon - rDeg,
          olat - rDeg, olon + rDeg): _*))
      GeoOps.distanceRings(g, olat, olon, edges)
    }),

    // --- geotile_grid aggregation (equirectangular row — the
    //     WebMercator y needs libm and would break hash-exactness;
    //     same z/x/y key shape): top-k occupied cells at zoom 5
    //     over the full staged layout (GeoOps.tileGrid) ---
    "q248_geo_tile_grid" -> ((s, d) =>
      GeoOps.tileGrid(graft.engine.Pq.read(s, geoDir(s, d)), zoom = 5,
        k = 30)),

    // --- date_histogram with calendar_interval: month (ES's
    //     time-series agg — months are not fixed-width, which is
    //     why fixed `histogram` can't express this), min_doc_count 0
    //     gap-fill between the occupied bounds; the query half of
    //     the request pushes into the scan (TimeOps.dateHistogram) ---
    "q249_date_histogram" -> ((s, d) =>
      graft.operators.TimeOps.dateHistogram(
        Tables.table(s, d, "orders"), "o_orderdate", "month",
        pred = Some("o_orderstatus = 'F'"))),

    // --- date_range aggregation (explicit [from, to) windows, open
    //     ends, request order, empty ranges at 0): one conditional
    //     aggregation pass, never a per-range rescan
    //     (TimeOps.dateRange) ---
    "q250_date_range" -> ((s, d) =>
      graft.operators.TimeOps.dateRange(
        Tables.table(s, d, "events"), "ts", Seq(
          ("w1", None, Some("2024-01-08 00:00:00")),
          ("w2", Some("2024-01-08 00:00:00"),
            Some("2024-01-22 00:00:00")),
          ("w3", Some("2024-01-22 00:00:00"), None),
          ("future", Some("2030-01-01 00:00:00"), None)))),

    // --- multi_terms aggregation (compound bucket keys without a
    //     scripted concat): hit docs bucket by (lang, source) tuple,
    //     one stored scan for both key parts
    //     (SegmentedIndex.multiTermsFacet) ---
    "q251_multi_terms" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.multiTermsFacet(s, segIndexDir(s, d),
        searchTerms, Seq("lang", "source"), 12)),

    // --- rare_terms aggregation (the long-tail mirror of terms:
    //     rarest buckets first, capped by max doc_count — ES
    //     bounds its one-pass collector with a CuckooFilter; a
    //     shuffle engine just computes the exact counts)
    //     (SegmentedIndex.rareTermsFacet) ---
    "q252_rare_terms" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.rareTermsFacet(s, segIndexDir(s, d),
        searchTerms, "source", maxDocCount = 6L)),

    // --- simple_query_string (the lenient user-facing query box):
    //     one string compiles through parseSqs to must/should/
    //     must_not terms and phrases and runs on the structured
    //     machinery — must term + must phrase gate, -term excludes,
    //     bare term scores (SegmentedIndex.simpleQueryString) ---
    "q253_simple_query_string" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.simpleQueryString(s, segIndexDir(s, d),
        "+spark +\"customer vector\" -stream | join", k = 20)),

    // --- span_near over span_or clauses (Lucene/ES proximity
    //     spans): any occurrence of `spark` within 3 intervening
    //     positions BEFORE any of {join, vector}; pairs meet in a
    //     doc-local join off one pruned positional read
    //     (SegmentedIndex.spanNearSearch) ---
    "q254_span_near" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.spanNearSearch(s, segIndexDir(s, d),
        Seq("spark"), Seq("join", "vector"), slop = 3,
        inOrder = true, k = 25)),

    // --- _update_by_query (ES's scripted bulk rewrite): every live
    //     doc matching `vector` re-enters through upsert with
    //     source='flagged' (new version + tombstone — ES's exact
    //     mechanism); the facet over an UNRELATED query then shows
    //     the rewritten field, proving live-version reads
    //     (SegmentedIndex.updateByQuery) ---
    "q255_update_by_query" -> ((s, d) => {
      // mutable CLONE of the staged index — the rewrite owns the copy
      val root = segIndexClone(s, d, "ubq")
      val n = SegmentedIndex.updateByQuery(s, root, Seq("vector"),
        Seq("source" -> "'flagged'"), "u1")
      SegmentedIndex.facet(s, root, Seq("join"), "source", 10)
        .withColumn("n_updated", lit(n))
    }),

    // --- sliced scroll (ES's parallel export API): slice 0 of 2
    //     reads ONLY its own segments' stored files (segment-ordinal
    //     slicing — planning-time pruning, disjoint bytes per
    //     slice), pages by search_after cursor
    //     (SegmentedIndex.slicedScroll) ---
    "q256_sliced_scroll" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir); slice 0
      // holds segment a (the doc_id % 5 != 0 append)
      SegmentedIndex.slicedScroll(s, segIndexDir(s, d), sliceId = 0,
        maxSlices = 2, pageSize = 30, after = Some(20L))),

    // --- matrix_stats (ES's covariance/correlation matrix agg),
    //     EXACT: fields quantize to lattice longs, moments sum in
    //     DECIMAL(38,0), statistics derive in one fixed-order double
    //     pipeline — bit-stable against the HUGEINT oracle
    //     (StatsOps.matrixStats) ---
    "q257_matrix_stats" -> ((s, d) =>
      graft.operators.StatsOps.matrixStats(
        Tables.table(s, d, "lineitem"),
        Seq(("l_quantity", 1L), ("l_extendedprice", 100L),
          ("l_discount", 100L)))),

    // --- extended_stats aggregation (stats + sum_of_squares + both
    //     ES variance flavors + std_dev), the moments EXACT in
    //     DECIMAL(38,0) where ES streams order-dependent doubles
    //     (SegmentedIndex.extendedStatsFacet) ---
    "q258_extended_stats" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.extendedStatsFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars")),

    // --- weighted_avg aggregation (Σvw/Σw over two stored fields,
    //     exact decimal sums, one closing division; doc_id as the
    //     recency-proxy weight) (SegmentedIndex.weightedAvgFacet) ---
    "q259_weighted_avg" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.weightedAvgFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", "doc_id")),

    // --- missing aggregation (how many hit docs DON'T carry the
    //     field — sparse mappings are legal, so "no value" is a real
    //     bucket) over the staged sparse index
    //     (SegmentedIndex.missingFacet) ---
    "q260_missing_agg" -> ((s, d) =>
      // probe-only against the STAGED sparse index
      SegmentedIndex.missingFacet(s, segIndexSparseDir(s, d),
        searchTerms, "source")),

    // --- boosting query (demote without excluding): positive terms
    //     score, docs also matching `stream` keep their hit at 0.4×
    //     (SegmentedIndex.boostingSearch) ---
    "q261_boosting" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.boostingSearch(s, segIndexDir(s, d),
        positive = searchTerms, negative = Seq("stream"),
        negativeBoost = 0.4, k = 20)),

    // --- distance_feature query (the recency/proximity booster):
    //     relevance + boost·pivot/(pivot+|n_chars−500|), the
    //     half-at-pivot kernel in pure exact arithmetic
    //     (SegmentedIndex.distanceFeatureSearch) ---
    "q262_distance_feature" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.distanceFeatureSearch(s, segIndexDir(s, d),
        searchTerms, "n_chars", origin = 500L, pivot = 200L,
        boost = 3.0, k = 20)),

    // --- pinned query (editorial promotion): ids first in request
    //     order (dead pins vanish), organic relevance follows
    //     pinned-free (SegmentedIndex.pinnedSearch) ---
    "q263_pinned" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.pinnedSearch(s, segIndexDir(s, d),
        ids = Seq(11L, 7L, 140L), terms = searchTerms, k = 20)),

    // --- function_score random_score with a seed: the documented
    //     Knuth-hash shuffle, reproducible across engines and
    //     partitionings (SegmentedIndex.randomScoreSearch) ---
    "q264_random_score" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.randomScoreSearch(s, segIndexDir(s, d),
        searchTerms, seed = 42L, k = 25)),

    // --- geo_bounds aggregation (the tightest box, ES corner
    //     convention) over a tile-pruned bounding-box query
    //     (GeoOps.bounds) ---
    "q265_geo_bounds" -> ((s, d) => {
      val (top, left, bottom, right) = (60.0, -90.0, -20.0, 70.0)
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(top, left, bottom, right): _*))
      GeoOps.bounds(GeoOps.boundingBox(g, top, left, bottom, right))
    }),

    // --- geo_centroid aggregation: the coordinate mean, EXACT on
    //     the 0.01° lattice (long sums in decimal, one division per
    //     axis — ES's double accumulator is order-dependent)
    //     (GeoOps.centroid) ---
    "q266_geo_centroid" -> ((s, d) => {
      val (top, left, bottom, right) = (60.0, -90.0, -20.0, 70.0)
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(top, left, bottom, right): _*))
      GeoOps.centroid(GeoOps.boundingBox(g, top, left, bottom, right))
    }),

    // --- regexp query (term-level, whole-term anchored like ES):
    //     the constant-score dictionary walk with a portable-core
    //     pattern (SegmentedIndex.regexpSearch) ---
    "q267_regexp" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.regexpSearch(s, segIndexDir(s, d),
        "sp[a-z]*k", k = 20)),

    // --- _cat/segments (ES's per-segment operational panel): one
    //     row per manifest entry in commit order — zero data files
    //     open, pure manifest arithmetic
    //     (SegmentedIndex.catSegments) ---
    "q268_cat_segments" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.catSegments(s, segIndexDir(s, d))),

    // --- serial_diff pipeline agg (lag-N differencing over the
    //     gap-filled histogram series — seasonality removal)
    //     (SegmentedIndex.serialDiffFacet) ---
    "q269_serial_diff" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.serialDiffFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 200L, lagN = 2)),

    // --- percentiles_bucket sibling pipeline (exact nearest-rank
    //     percentiles OVER the bucket series, never the corpus)
    //     (SegmentedIndex.percentilesBucket) ---
    "q270_percentiles_bucket" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.percentilesBucket(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 200L,
        percents = Seq(25.0, 50.0, 90.0))),

    // --- top_metrics under a terms bucketing ("per language, the
    //     source of the longest doc"), rank window partitioned by
    //     bucket — never a global funnel
    //     (SegmentedIndex.topMetricsFacet) ---
    "q271_top_metrics" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.topMetricsFacet(s, segIndexDir(s, d),
        searchTerms, "lang", "n_chars", "source")),

    // --- match_bool_prefix (search-as-you-type, no adjacency):
    //     leading terms score tf·(N/df), the trailing prefix adds
    //     Lucene's constant-score 1.0 over its dictionary expansion
    //     (SegmentedIndex.matchBoolPrefix) ---
    "q272_match_bool_prefix" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.matchBoolPrefix(s, segIndexDir(s, d),
        leading = Seq("spark", "join"), prefix = "vec", k = 20)),

    // --- significant_text (the free-text significance agg with its
    //     production knobs: a deterministic sampler and
    //     filter_duplicate_text) (SegmentedIndex.significantText) ---
    "q273_significant_text" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.significantText(s, segIndexDir(s, d),
        searchTerms, kTerms = 15, sampleSize = 40,
        minDocCount = 2L)),

    // --- geohash_grid (the REAL geohash, closed-formed to integer
    //     interleaving — no libm, no bisection loop)
    //     (GeoOps.geohashGrid) ---
    "q274_geohash_grid" -> ((s, d) =>
      GeoOps.geohashGrid(graft.engine.Pq.read(s, geoDir(s, d)),
        precision = 4, k = 30)),

    // --- ORDERED intervals query (ES `intervals` — the modern span
    //     replacement): spark … join … vector in order under a
    //     TOTAL gap budget, chains enumerated through doc-local
    //     ascending-position joins (SegmentedIndex.intervalsSearch) ---
    "q280_intervals" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsSearch(s, segIndexDir(s, d),
        Seq("spark", "join", "vector"), maxGaps = 8, k = 20)),

    // --- multi_match, type best_fields (ES's most-used query: one
    //     text box, N fields): the same query runs against the
    //     `text` and `meta` postings families (per-field df/N —
    //     ES/Lucene's statistics rule), fields COMPETE via dis_max:
    //     best + tie_breaker·(rest)
    //     (SegmentedIndex.multiMatchSearch) ---
    "q281_multi_match_best" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchSearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("spark", "src3"), "best_fields", tieBreaker = 0.3,
        k = 20)),

    // --- multi_match, type most_fields (fields PILE UP — the bool/
    //     should compilation): per-field scores sum; a doc matching
    //     in both fields outranks an equal single-field match
    //     (SegmentedIndex.multiMatchSearch) ---
    "q282_multi_match_most" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchSearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("spark", "en"), "most_fields", tieBreaker = 0.0,
        k = 20)),

    // --- combined_fields (ES 7.13+'s term-centric multi-field
    //     query — the principled cross_fields): fields score AS one
    //     synthetic field — tf sums across families (integral
    //     weights keep the combine exact), df is the synthetic
    //     field's (docs holding the term in ANY field)
    //     (SegmentedIndex.combinedFieldsSearch) ---
    "q290_combined_fields" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.combinedFieldsSearch(s,
        Seq(("text", segIndexDir(s, d), 1.0),
          ("meta", segIndexMetaDir(s, d), 2.0)),
        Seq("spark", "en"), k = 20)),

    // --- intervals FILTER rule (ES's intervals filter —
    //     containing): spark…vector chains (gaps<=5) kept only when
    //     a `customer` occurrence lies INSIDE the interval; semi
    //     join on the positional relation
    //     (SegmentedIndex.intervalsQuery + IFiltered) ---
    "q291_intervals_filter" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IFiltered(
          SegmentedIndex.IMatch(Seq("spark", "vector"), maxGaps = 5),
          "containing",
          SegmentedIndex.IMatch(Seq("customer"))), k = 20)),

    // --- intervals BEFORE filter rule (round-18, completing ES's
    //     filter set sans script): spark occurrences kept only when
    //     they end before some vector occurrence — evaluated
    //     doc-locally by the interval_tree expression
    //     (SegmentedIndex.intervalsQuery + IFiltered) ---
    "q346_intervals_before" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IFiltered(
          SegmentedIndex.IMatch(Seq("spark")), "before",
          SegmentedIndex.IMatch(Seq("vector"))), k = 20)),

    // --- intervals PREFIX source (the multi-term interval source):
    //     spark followed by a vec*-expanded term under a combined
    //     gap budget (SegmentedIndex.intervalsQuery + IPrefix) ---
    "q347_intervals_prefix" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IAllOf(Seq(
          SegmentedIndex.IMatch(Seq("spark")),
          SegmentedIndex.IPrefix("vec")), maxGaps = 4), k = 20)),

    // --- intervals all_of UNORDERED (round-18 — ES's all_of
    //     DEFAULT is ordered:false): spark and vector in EITHER
    //     order under a combined gap budget, counted by the
    //     permutation-sum of the doc-local ordered DP
    //     (SegmentedIndex.IAllOf(ordered = false)) ---
    "q352_intervals_unordered" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IAllOf(Seq(
          SegmentedIndex.IMatch(Seq("spark")),
          SegmentedIndex.IMatch(Seq("vector"))),
          maxGaps = 3, ordered = false), k = 20)),

    // --- terms LOOKUP (ES terms query with a lookup clause — the
    //     "my followees' posts" pattern): doc 7's lang fetched by
    //     id-pushed stored read, its value filters the live corpus
    //     (SegmentedIndex.termsLookupSearch) ---
    "q292_terms_lookup" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termsLookupSearch(s, segIndexDir(s, d),
        lookupId = 7L, lookupField = "lang", targetField = "lang",
        k = 40)),

    // --- rank_feature, saturation kernel (ES's static-relevance
    //     query): score = query + boost·v/(v+pivot) — one exact
    //     divide, hash-exact (log/sigmoid would need q284's bands)
    //     (SegmentedIndex.rankFeatureSearch) ---
    "q293_rank_feature" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.rankFeatureSearch(s, segIndexDir(s, d),
        searchTerms, "n_chars", pivot = 200.0, boost = 1.5, k = 20)),

    // --- script_score (ES's compute-the-score-yourself query):
    //     the caller's expression over _score and stored fields,
    //     compiled by Catalyst — codegen'd, not interpreted
    //     (SegmentedIndex.scriptScoreSearch) ---
    "q294_script_score" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.scriptScoreSearch(s, segIndexDir(s, d),
        searchTerms, Seq("n_chars"),
        "(_score + n_chars / 100.0) * 2.0", k = 20)),

    // --- diversified_sampler + terms sub-agg (ES's anti-dominance
    //     sampler): at most 3 hit docs per lang enter the sample
    //     (pinned doc_id order), the source terms agg runs over the
    //     sample (SegmentedIndex.diversifiedSamplerFacet) ---
    "q295_diversified_sampler" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.diversifiedSamplerFacet(s, segIndexDir(s, d),
        searchTerms, dedupField = "lang", maxDocsPerValue = 3,
        aggField = "source", kBuckets = 10)),

    // --- cumulative_cardinality (ES's "new distinct values over
    //     time" pipeline agg, computed EXACTLY from first-bucket
    //     frames instead of HLL sketches): distinct langs
    //     accumulated across n_chars buckets
    //     (SegmentedIndex.cumulativeCardinalityFacet) ---
    "q296_cumulative_cardinality" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.cumulativeCardinalityFacet(s, segIndexDir(s, d),
        searchTerms, bucketField = "n_chars", interval = 100L,
        valueField = "lang")),

    // --- median_absolute_deviation (ES's robust dispersion agg —
    //     TDigest-approximate there, EXACT here): inner median as a
    //     single-row driver literal, interpolated percentiles both
    //     engines (SegmentedIndex.madFacet) ---
    "q297_mad" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.madFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars")),

    // --- Reciprocal Rank Fusion (ES's `rrf` retriever — the hybrid
    //     search combinator): a relevance ranking and a length
    //     ranking fuse by 1/(60+rank) within 50-doc windows —
    //     rank-only, so incomparable score scales compose
    //     (SegmentedIndex.rrfFusion) ---
    "q298_rrf" -> ((s, d) => {
      val root = segIndexDir(s, d)
      val rel = SegmentedIndex.search(s, root,
        Seq("spark", "join"), 50)
      val len = SegmentedIndex.sortedSearch(s, root, searchTerms,
        "n_chars", 50, ascending = false)
        .select(col("doc_id"),
          col("sort_value").cast("double").as("score"))
      SegmentedIndex.rrfFusion(s,
        Seq("relevance" -> rel, "length" -> len),
        rankConstant = 60, windowSize = 50, k = 20)
    }),

    // --- linear retriever with minmax normalization (ES 8.16+'s
    //     weighted-sum hybrid): window scores normalize to [0,1],
    //     fused score = 1.0·rel + 0.5·len
    //     (SegmentedIndex.linearFusion) ---
    "q299_linear_retriever" -> ((s, d) => {
      val root = segIndexDir(s, d)
      val rel = SegmentedIndex.search(s, root,
        Seq("spark", "join"), 50)
      val len = SegmentedIndex.sortedSearch(s, root, searchTerms,
        "n_chars", 50, ascending = false)
        .select(col("doc_id"),
          col("sort_value").cast("double").as("score"))
      SegmentedIndex.linearFusion(s,
        Seq(("relevance", rel, 1.0), ("length", len, 0.5)),
        windowSize = 50, k = 20)
    }),

    // --- _analyze (ES's POST /idx/_analyze — the analyzer
    //     debugging endpoint): the ENGLISH index's chain applied to
    //     caller text — lowercase, stopword position gaps, stems;
    //     one driver-side string analysis, no data touched
    //     (SegmentedIndex.analyzeApi) ---
    "q311_analyze_api" -> ((s, d) =>
      SegmentedIndex.analyzeApi(s, segIndexEnDir(s, d),
        "The Searches and Tables were Joining")),

    // --- _cat/indices (ES's cluster index panel — doc counts,
    //     deletes, token size per index): indexStats per federation
    //     member, manifest + tombstone-sidecar reads only
    //     (SegmentedIndex.catIndices) ---
    "q310_cat_indices" -> ((s, d) => {
      val (l, r) = segIndexPairDirs(s, d)
      SegmentedIndex.catIndices(s, Seq("left" -> l, "right" -> r))
    }),

    // --- contamination RATE (the GPT-3-style refinement of q123's
    //     decontamination: fraction of a doc's distinct n-grams
    //     found in the benchmark + a thresholded verdict — one
    //     common phrase must not disqualify a document): benchmark
    //     broadcast, one doc-keyed rollup for denominators
    //     (Dedup.contaminationRate) ---
    "q308_contamination_rate" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Dedup.contaminationRate(
        ds.filter(col("source") =!= "src0")
          .select("doc_id", "text"),
        ds.filter(col("source") === "src0")
          .select("doc_id", "text"),
        n = 4, threshold = 0.05)
    }),

    // --- query_string PREFIX and FUZZY leaves (Lucene's `cust*`
    //     and `term~1`): constant-score multi-term rewrite —
    //     matched docs take boost·1.0 (expansions deliberately not
    //     idf-weighted, ES's default), expansions walk the
    //     vocabulary-sized dictionaries under the 50-term cap
    //     (QueryString.search) ---
    "q309_query_string_multiterm" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      graft.operators.QueryString.search(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        "text", "(spark AND cust*^2) OR vektor~1", k = 25)),

    // --- query_string unary +/- modifiers (Lucene's MUST/MUST_NOT
    //     prefixes — the boolean clause list): must spark, must-not
    //     stream, customer and meta:src3 optional-scoring; the must
    //     clause bounds the candidate base (no corpus read)
    //     (QueryString.search) ---
    "q312_query_string_ops" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      graft.operators.QueryString.search(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        "text", "+spark -stream customer meta:src3", k = 25)),

    // --- normalize pipeline agg (ES's per-bucket series rescaling;
    //     the exact-arithmetic percent_of_sum method — softmax and
    //     z-score are libm and stated out)
    //     (SegmentedIndex.normalizeFacet) ---
    "q322_normalize_bucket" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.normalizeFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 100L,
        method = "percent_of_sum")),

    // --- moving_percentiles pipeline agg (EXACT interpolated
    //     percentile over the trailing bucket window — ES folds
    //     TDigest sketches there)
    //     (SegmentedIndex.movingPercentilesFacet) ---
    "q323_moving_percentiles" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.movingPercentilesFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 100L, window = 3,
        percent = 50.0)),

    // --- _mget with _source filtering (multi-get returning only
    //     the requested fields): the id-pushed stored read projected
    //     to the requested columns — the parquet projection IS the
    //     I/O saving ES's post-hoc JSON filter can't have; a
    //     tombstoned id (5) and an absent id (999) return nothing
    //     (SegmentedIndex.fetchFields) ---
    "q341_mget_fields" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.fetchFields(s, segIndexDir(s, d),
        ids = Seq(2L, 5L, 7L, 120L, 999L),
        fields = Seq("lang", "n_chars"))),

    // --- term suggester suggest_mode (ES's missing/popular/always):
    //     `missing` suggests only for absent input terms (the
    //     present-term empty half is spec-pinned)
    //     (SegmentedIndex.termSuggest) ---
    "q342_suggest_mode" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termSuggest(s, segIndexDir(s, d), "vektor",
        k = 5, maxDist = 1, suggestMode = "missing")),

    // --- query_string `fields` LIST (ES's multi-field box with
    //     per-field boosts): every unqualified clause dis_maxes
    //     across the listed fields, each under its own chain and
    //     statistics (QueryString.searchFields) ---
    "q338_query_string_fields" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      graft.operators.QueryString.searchFields(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("text" -> 1.0, "meta" -> 2.0),
        "+spark src3", k = 25)),

    // --- bool with minimum_should_match (ES's most-used relevance
    //     knob after boosts): candidates must match >= N distinct
    //     should terms (SegmentedIndex.boolSearch) ---
    "q339_minimum_should_match" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.boolSearch(s, segIndexDir(s, d),
        must = Seq.empty, should = searchTerms, k = 25,
        minimumShouldMatch = Some(2))),

    // --- RAG document chunking (the retrieval-ingestion splitter):
    //     overlapping token windows, stride < window for boundary
    //     context; pure codegen'd column arithmetic, no shuffle
    //     (TextOps.chunkDocuments) ---
    "q340_rag_chunking" -> ((s, d) =>
      graft.operators.TextOps.chunkDocuments(
        Tables.table(s, d, "documents").filter(col("doc_id") < 30),
        windowTokens = 40, strideTokens = 20)
        .orderBy("doc_id", "chunk_id")),

    // --- ingest pipeline _simulate (ES's processor chain between
    //     the bulk request and the index — rename/uppercase/gsub/
    //     set/script/remove, the most-used kernel): the whole chain
    //     is ONE Catalyst projection, zero UDFs (Ingest.simulate) ---
    "q334_ingest_pipeline" -> ((s, d) =>
      graft.operators.Ingest.simulate(
        Tables.table(s, d, "documents"),
        Seq(
          graft.operators.Ingest.RenameProc("source", "src"),
          graft.operators.Ingest.UppercaseProc("src"),
          graft.operators.Ingest.GsubProc("lang", "[aeiou]", "_"),
          graft.operators.Ingest.SetProc("pipeline_tag", "v1"),
          graft.operators.Ingest.ScriptProc("n_tokens",
            "bigint(size(split(text, ' ')))"),
          graft.operators.Ingest.RemoveProc("text")),
        pred = "doc_id < 15")),

    // --- terms-agg include/exclude regex (ES's bucket-key filter):
    //     whole-key-anchored patterns applied before the top-k
    //     (SegmentedIndex.facetInclude) ---
    "q335_terms_include" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.facetInclude(s, segIndexDir(s, d), searchTerms,
        "source", include = Some("src1.*"), exclude = Some(".*3"),
        kBuckets = 10)),

    // --- retriever TREE (ES 8.16's nested retrievers): an rrf
    //     retriever over [a linear retriever over (relevance,
    //     length), a vector-ish relevance retriever] — pure
    //     composition, windows bounded at every level
    //     (SegmentedIndex.rrfFusion ∘ linearFusion) ---
    "q336_retriever_tree" -> ((s, d) => {
      val root = segIndexDir(s, d)
      val rel = SegmentedIndex.search(s, root,
        Seq("spark", "join"), 50)
      val len = SegmentedIndex.sortedSearch(s, root, searchTerms,
        "n_chars", 50, ascending = false)
        .select(col("doc_id"),
          col("sort_value").cast("double").as("score"))
      val lin = SegmentedIndex.linearFusion(s,
        Seq(("relevance", rel, 1.0), ("length", len, 0.5)),
        windowSize = 50, k = 30)
      val vec = SegmentedIndex.search(s, root, Seq("vector"), 50)
      SegmentedIndex.rrfFusion(s,
        Seq("linear" -> lin, "vec" -> vec),
        rankConstant = 60, windowSize = 30, k = 20)
    }),

    // --- knn similarity cutoff (ES knn's `similarity` param):
    //     candidates below the cosine floor leave before the rank
    //     window — sparse results are the contract
    //     (Similarity.filteredTopK minSimilarity) ---
    "q337_knn_similarity" -> ((s, d) =>
      Similarity.filteredTopK(emb(s, d), "vec_id < 10", "label = 2",
          k = 5, minSimilarity = 0.2)
        .orderBy("q_id", "rank")),

    // --- FILTERED alias (ES's alias filter — the multi-tenant view
    //     pattern): every search through the alias semi-joins the
    //     filter's live stored rows BEFORE the top-k; filter context,
    //     never scored (SegmentedIndex.setAliasFiltered/searchAlias) ---
    "q332_filtered_alias" -> ((s, d) => {
      val alias = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_alias_en_sx7a_" +
          graft.engine.Bucketing.fingerprint8(d)).getPath
      SegmentedIndex.setAliasFiltered(alias, segIndexDir(s, d),
        "lang", "en")
      SegmentedIndex.searchAlias(s, alias, searchTerms, k = 20)
    }),

    // --- terms-agg PARTITION paging (ES's include:
    //     {partition, num_partitions} — walking a huge-cardinality
    //     terms agg in independent exact-disjoint pages): the
    //     partition hash pinned cross-engine (md5 hex prefix)
    //     (SegmentedIndex.facetPartition) ---
    "q333_terms_partition" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.facetPartition(s, segIndexDir(s, d),
        searchTerms, "source", numPartitions = 3, partition = 1,
        kBuckets = 10)),

    // --- categorize_text (ES's log-categorization agg), pinned
    //     DETERMINISTIC: messages group by (token count, first
    //     token), each position keeps its token when the group
    //     agrees, else '*' — reproducible where ES's streaming
    //     clusterer is shard-order-dependent
    //     (SegmentedIndex.categorizeTextFacet) ---
    "q329_categorize_text" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.categorizeTextFacet(s, segIndexDir(s, d),
        searchTerms, k = 15)),

    // --- random_sampler agg (ES 8.2's probability sampling — THE
    //     interactive-aggregation knob at 100 TB), deterministic by
    //     contract: inclusion = seeded Knuth hash under ⌊p·2³¹⌋,
    //     estimates scaled by 1/p
    //     (SegmentedIndex.randomSamplerFacet) ---
    "q330_random_sampler" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.randomSamplerFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", probability = 0.25, seed = 7L)),

    // --- scripted_metric aggregation (ES's escape-hatch agg,
    //     round-18): caller SQL for map ("double(v)") and reduce
    //     ("acc*0.5 + x" — deliberately NON-commutative) folds each
    //     lang bucket's hit values in PINNED doc-id order, so the
    //     result is deterministic where ES documents shard-order
    //     dependence (SegmentedIndex.scriptedMetricFacet) ---
    "q351_scripted_metric" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.scriptedMetricFacet(s, segIndexDir(s, d),
        searchTerms, "lang", "n_chars",
        mapScript = "double(v)", initScript = "0.0D",
        reduceScript = "acc * 0.5D + x")),

    // --- frequent_item_sets (ES 8.4's association-rules ML agg,
    //     round-18): exact Apriori over each doc's distinct terms —
    //     top-8 frequent singletons eligible, levels to size 3,
    //     CLOSED sets only (ES's output contract), support exact
    //     where ES samples per shard (StatsOps.frequentItemSets) ---
    "q356_frequent_item_sets" -> ((s, d) =>
      graft.operators.StatsOps.frequentItemSets(
        docs(s, d).filter(col("doc_id") < 150), "text",
        minSupport = 90, maxSize = 3, maxItems = 8, k = 60)),

    // --- event funnel (signup → purchase → error within 14 days):
    //     per-user ordered stage anchors, whole-funnel window,
    //     exact conversion divisions (TimeOps.funnel) ---
    "q331_funnel" -> ((s, d) =>
      graft.operators.TimeOps.funnel(
        Tables.table(s, d, "events"), "user_id", "event_type", "ts",
        Seq("signup", "purchase", "error"),
        windowSec = 14L * 86400L)),

    // --- EQL-style sequence query (round-18): `sequence by user_id
    //     [signup] [purchase] [error] with maxspan=14d` returning
    //     the matched event CHAINS (ids + timestamps) — q331's
    //     funnel is the aggregate twin; only complete sequences
    //     emit, anchors greedy-earliest with event-id tiebreak
    //     (TimeOps.sequenceQuery) ---
    "q350_eql_sequence" -> ((s, d) =>
      graft.operators.TimeOps.sequenceQuery(
        Tables.table(s, d, "events"), "user_id", "event_type", "ts",
        "event_id", Seq("signup", "purchase", "error"),
        maxspanSec = 14L * 86400L)),

    // --- EQL `until` (round-18): the same sequence TERMINATED by a
    //     click event inside the chain's (t0, t_last] window — the
    //     pinned single-automaton kill rule, one extra key-bounded
    //     join (TimeOps.sequenceQuery(until=)) ---
    "q353_eql_until" -> ((s, d) =>
      graft.operators.TimeOps.sequenceQuery(
        Tables.table(s, d, "events"), "user_id", "event_type", "ts",
        "event_id", Seq("signup", "purchase", "error"),
        maxspanSec = 14L * 86400L, until = Some("click"))),

    // --- EQL per-stage `where` filters (round-18):
    //     `[purchase where value >= 50]` — the predicate compiles
    //     into the stage's pushed scan filter, anchors shift to the
    //     earliest QUALIFYING event (TimeOps.sequenceQuery(wheres=)) ---
    "q354_eql_where" -> ((s, d) =>
      graft.operators.TimeOps.sequenceQuery(
        Tables.table(s, d, "events"), "user_id", "event_type", "ts",
        "event_id", Seq("signup", "purchase", "error"),
        maxspanSec = 14L * 86400L,
        wheres = Seq("", "value >= 50", ""))),

    // --- change_point aggregation (ES 8.x's series change detector,
    //     round-18): monthly revenue series, the two-segment
    //     least-squares split over EXACT integer prefix sums — the
    //     pinned deterministic convention where ES runs a sampled ML
    //     test (TimeOps.changePoint) ---
    "q357_change_point" -> ((s, d) =>
      graft.operators.TimeOps.changePoint(
        Tables.table(s, d, "orders"), "o_orderdate", "o_totalprice",
        interval = "month", scale = 100L)),

    // --- rate aggregation under a calendar date_histogram (ES
    //     `rate`): per-day rate per bucket, the divisor the EXACT
    //     day count of that calendar bucket (Feb ≠ Jan — the whole
    //     point under calendar intervals)
    //     (TimeOps.dateHistogramRate) ---
    "q324_rate_agg" -> ((s, d) =>
      graft.operators.TimeOps.dateHistogramRate(
        Tables.table(s, d, "orders"), "o_orderdate", "month",
        pred = Some("o_orderstatus = 'F'"))),

    // --- filters agg with other_bucket (ES's `other_bucket`: docs
    //     matching NO filter, under the reserved '_other_' key) —
    //     live-corpus count minus matched-any, two scalar aggregates
    //     (SegmentedIndex.filtersFacet) ---
    "q325_filters_other" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.filtersFacet(s, segIndexDir(s, d),
        Seq("sparkish" -> Seq("spark"),
          "joiny" -> Seq("join", "vector"),
          "none" -> Seq("zz-absent-term")),
        otherBucket = true)),

    // --- terms agg ORDERED BY a sub-agg metric (ES's
    //     `order: {avg_metric: desc}` — rank sources by their mean
    //     doc length, not their size)
    //     (SegmentedIndex.facetStats orderMetric) ---
    "q326_terms_order_metric" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.facetStats(s, segIndexDir(s, d), searchTerms,
        bucketField = "source", statField = "n_chars",
        kBuckets = 10, orderMetric = "vavg")),

    // --- variable_width_histogram (ES's data-adaptive bucketing),
    //     pinned EXACT: equal-frequency split by distinct value —
    //     deterministic where ES's one-pass clusterer is
    //     order-dependent; DECIMAL(38,0) centroid moments
    //     (SegmentedIndex.variableWidthHistogramFacet) ---
    "q327_variable_width_histogram" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.variableWidthHistogramFacet(s,
        segIndexDir(s, d), searchTerms, "n_chars", buckets = 5)),

    // --- multi_match type cross_fields (the r16 refusal upgraded —
    //     Lucene's BlendedTermQuery convention pinned: per term the
    //     fields' dfs blend to their MAX, the best field's tf scores
    //     once under the blended weight, terms sum)
    //     (SegmentedIndex.multiMatchSearch) ---
    "q328_multi_match_cross" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchSearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("spark", "de"), matchType = "cross_fields",
        tieBreaker = 0.0, k = 25)),

    // --- completion suggester CONTEXTS (ES's category contexts —
    //     filtered completion): the `_cfield/` artifact carries each
    //     suggestion's context value, the suggest filters on one
    //     inside the pb-pruned candidate slice, cross-segment
    //     max-weight dedup preserved
    //     (SegmentedIndex.completionFieldSuggest) ---
    "q321_completion_contexts" -> ((s, d) =>
      // probe-only against the STAGED context-mapped index
      SegmentedIndex.completionFieldSuggest(s, segIndexCtxDir(s, d),
        "source", "n_chars", prefix = "src", k = 10,
        context = Some("en"))),

    // --- multi_match type phrase (ES's per-field phrase tier):
    //     match_phrase per field with each field's own chain and
    //     exact phrase statistics, dis_max on top
    //     (SegmentedIndex.multiMatchPhraseSearch) ---
    "q317_multi_match_phrase" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchPhraseSearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("spark", "join"), matchType = "phrase",
        tieBreaker = 0.2, k = 25)),

    // --- multi_match type phrase_prefix (search-as-you-type over
    //     several fields): the last word expands against each
    //     field's OWN dictionary (SegmentedIndex
    //     .multiMatchPhraseSearch) ---
    "q318_mm_phrase_prefix" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchPhraseSearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("src3", "d"), matchType = "phrase_prefix",
        tieBreaker = 0.2, k = 25)),

    // --- match with fuzziness (ES's typo-tolerant match): SymSpell
    //     dictionary expansion per query term, per-pair exact
    //     tf·(N/df) sums in fixed pivot order
    //     (SegmentedIndex.matchFuzzySearch) ---
    "q319_match_fuzzy" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.matchFuzzySearch(s, segIndexDir(s, d),
        Seq("vektor", "joim"), maxDist = 1, k = 25)),

    // --- multi_match with fuzziness: the per-field fuzzy match
    //     under each field's own dictionary and stats, dis_max
    //     fold (SegmentedIndex.multiMatchFuzzySearch) ---
    "q320_multi_match_fuzzy" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      SegmentedIndex.multiMatchFuzzySearch(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        Seq("vektor", "src3"), maxDist = 1, tieBreaker = 0.3,
        k = 25)),

    // --- nested query (ES's `nested: {path, query}` — the
    //     most-used mapping relation): a parent matches iff ONE
    //     sub-document satisfies the WHOLE inner query (term +
    //     nested-field filter on the same sub-object — block
    //     isolation); score_mode max; block tombstones + parent
    //     liveness both enforced (SegmentedIndex.nestedQuery) ---
    "q314_nested_query" -> ((s, d) =>
      // probe-only against the STAGED nested + parent families
      SegmentedIndex.nestedQuery(s, segIndexNestedDir(s, d),
        segIndexDir(s, d), Seq("vector"),
        storedEq = Some(("author", "a3")), scoreMode = "max",
        k = 30)),

    // --- nested inner_hits (WHICH sub-object hit): the matched
    //     sub-documents with their block ordinal
    //     (SegmentedIndex.nestedInnerHits) ---
    "q315_nested_inner_hits" -> ((s, d) =>
      // probe-only against the STAGED nested + parent families
      SegmentedIndex.nestedInnerHits(s, segIndexNestedDir(s, d),
        segIndexDir(s, d), Seq("vector"),
        storedEq = Some(("author", "a3")), k = 40)),

    // --- nested aggregation (ES's `aggs: {nested: {path}, aggs:
    //     {terms}}`): sub-documents of the outer query's parents
    //     bucketed by a nested field (SegmentedIndex.nestedFacet) ---
    "q316_nested_agg" -> ((s, d) =>
      // probe-only against the STAGED nested + parent families
      SegmentedIndex.nestedFacet(s, segIndexDir(s, d),
        segIndexNestedDir(s, d), Seq("spark"), "author",
        kBuckets = 10)),

    // --- nested score_mode sum (parent score = its matched
    //     sub-documents' scores folded in pinned block-ordinal
    //     order — the float-order-safe fold the DuckDB oracle
    //     replays via list_reduce) (SegmentedIndex.nestedQuery) ---
    "q343_nested_score_sum" -> ((s, d) =>
      // probe-only against the STAGED nested + parent families
      SegmentedIndex.nestedQuery(s, segIndexNestedDir(s, d),
        segIndexDir(s, d), Seq("vector"),
        storedEq = None, scoreMode = "sum", k = 30)),

    // --- nested score_mode avg (ES's nested DEFAULT): the pinned
    //     ord-order sum divided ONCE by the exact match count
    //     (SegmentedIndex.nestedQuery) ---
    "q344_nested_score_avg" -> ((s, d) =>
      // probe-only against the STAGED nested + parent families
      SegmentedIndex.nestedQuery(s, segIndexNestedDir(s, d),
        segIndexDir(s, d), Seq("vector"),
        storedEq = None, scoreMode = "avg", k = 30)),

    // --- has_child score_mode avg: child scores folded in pinned
    //     child-id order, one exact division per parent
    //     (SegmentedIndex.hasChildSearch) ---
    "q345_has_child_avg" -> ((s, d) =>
      // probe-only against the STAGED parent/child index
      SegmentedIndex.hasChildSearch(s, segIndexJoinDir(s, d),
        Seq("vector"), childType = "answer", parentType = "question",
        scoreMode = "avg", k = 30)),

    // --- query_string group boosts `(a b)^2`, phrase slop
    //     `"a b"~2` (sloppyPhraseSearch's move arithmetic as a
    //     filter-context leaf) and mid-term/leading wildcards
    //     (`*tor` through the anchored automaton, constant-score)
    //     (QueryString.search) ---
    "q313_query_string_advanced" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      graft.operators.QueryString.search(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        "text", "(vector join)^2 \"spark join\"~2 *tor^3", k = 30)),

    // --- UNORDERED intervals match (ES's intervals-match DEFAULT —
    //     any term order, minimal-window gap budget): the per-term
    //     occurrence product with least/greatest window bounds
    //     (SegmentedIndex.intervalsQuery, IMatch ordered=false) ---
    "q306_intervals_unordered" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IMatch(Seq("vector", "spark"), maxGaps = 3,
          ordered = false), k = 20)),

    // --- query_string FILTER leaves (Lucene's `field:[lo TO hi]`
    //     numeric range and `_exists_:field`): gate candidacy,
    //     score zero (the pinned filter-context posture), composed
    //     with scoring clauses over the SPARSE-mapping family so
    //     _exists_ has real misses (QueryString.search) ---
    "q307_query_string_filters" -> ((s, d) =>
      // probe-only against the STAGED sparse index
      graft.operators.QueryString.search(s,
        Seq("text" -> segIndexSparseDir(s, d)), "text",
        "spark AND _exists_:source AND doc_id:[20 TO 90]", k = 30)),

    // --- t_test agg (ES's Welch's two-sample statistic): en vs de
    //     n_chars means — exact decimal moments, one fixed-order
    //     double pipeline; p-value stated out (incomplete-beta libm)
    //     (SegmentedIndex.tTestFacet) ---
    "q302_t_test" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.tTestFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars", "lang", "en", "de")),

    // --- boxplot agg (ES's five-number summary — TDigest there,
    //     EXACT interpolated percentiles here)
    //     (SegmentedIndex.boxplotFacet) ---
    "q303_boxplot" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.boxplotFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars")),

    // --- string_stats agg (length profile of a string field;
    //     ES's entropy column stated out — many-term libm log2 has
    //     no hash-exact oracle) (SegmentedIndex.stringStatsFacet) ---
    "q304_string_stats" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.stringStatsFacet(s, segIndexDir(s, d),
        searchTerms, "source")),

    // --- runtime field + terms agg (ES runtime mappings — a field
    //     defined at query time by an expression over stored
    //     columns, Catalyst-compiled): lang × length-class buckets
    //     (SegmentedIndex.runtimeFieldFacet) ---
    "q305_runtime_field" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.runtimeFieldFacet(s, segIndexDir(s, d),
        searchTerms, Seq("lang", "n_chars"),
        "concat(lang, '/', CASE WHEN n_chars > 250 THEN 'long' " +
          "ELSE 'short' END)", kBuckets = 12)),

    // --- HYBRID text ⊕ vector search (ES's flagship 8.x pattern:
    //     BM25 retriever + knn retriever fused by RRF): the seg
    //     index's relevance top-50 and the EXACT filtered kNN of
    //     vec 3 (candidates pre-filtered to the live doc set — the
    //     ES knn `filter` / faiss IDSelector shape) fuse rank-only
    //     (Similarity.filteredTopK + SegmentedIndex.rrfFusion) ---
    "q301_hybrid_knn_rrf" -> ((s, d) => {
      val root = segIndexDir(s, d)
      val rel = SegmentedIndex.search(s, root,
        Seq("spark", "join"), 50)
      val knn = Similarity.filteredTopK(
        emb(s, d).filter(col("vec_id") < 150), "vec_id = 3",
        "vec_id % 37 <> 5", 50)
        .select(col("neighbor_id").as("doc_id"),
          col("cos").as("score"))
      SegmentedIndex.rrfFusion(s,
        Seq("bm25" -> rel, "knn" -> knn),
        rankConstant = 60, windowSize = 50, k = 20)
    }),

    // --- plain sampler agg (ES's scoped sampling — the expensive
    //     sub-agg over a bounded sample): first 20 hit docs by
    //     pinned id order, source terms agg over them
    //     (SegmentedIndex.samplerFacet) ---
    "q300_sampler" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.samplerFacet(s, segIndexDir(s, d), searchTerms,
        shardSize = 20, aggField = "source", kBuckets = 10)),

    // --- intervals COMBINATORS (ES's nested intervals — the span
    //     replacement): all_of( any_of(spark | stream),
    //     match(customer vector, gaps<=2) ) ordered, combined gap
    //     budget 6 — interval frames chained off one pruned
    //     positional read (SegmentedIndex.intervalsQuery) ---
    "q289_intervals_combinators" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.intervalsQuery(s, segIndexDir(s, d),
        SegmentedIndex.IAllOf(Seq(
          SegmentedIndex.IAnyOf(Seq(
            SegmentedIndex.IMatch(Seq("spark")),
            SegmentedIndex.IMatch(Seq("stream")))),
          SegmentedIndex.IMatch(Seq("customer", "vector"),
            maxGaps = 2)),
          maxGaps = 6), k = 20)),

    // --- auto_date_histogram (ES picks the interval for a TARGET
    //     bucket count — the zoom-adaptive panel request): the
    //     finest ladder unit fitting 50 buckets over the events
    //     span (30 days → day), then the gap-filled calendar series
    //     with the pick reported (TimeOps.autoDateHistogram) ---
    "q287_auto_date_histogram" -> ((s, d) =>
      graft.operators.TimeOps.autoDateHistogram(
        Tables.table(s, d, "events"), "ts", targetBuckets = 50)),

    // --- bucket_script pipeline agg (ES's general arithmetic over
    //     sibling metrics, per bucket): n_chars histogram buckets
    //     carry doc_count + sum(n_chars), the script derives mean
    //     chars per doc — one aggregation pass, script cost
    //     O(buckets) (SegmentedIndex.bucketScriptFacet) ---
    "q288_bucket_script" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.bucketScriptFacet(s, segIndexDir(s, d),
        searchTerms, "n_chars", interval = 100L,
        metrics = Seq("sum_nc" -> "n_chars"),
        script = "sum_nc / doc_count")),

    // --- has_child, score_mode max (ES's join-field query: parents
    //     with a matching child, scored by their best child): child
    //     hits postings-pruned, relation columns one stored read,
    //     only MATCHED children shuffle; tombstoned parents (doc 42)
    //     and children drop live (SegmentedIndex.hasChildSearch) ---
    "q285_has_child" -> ((s, d) =>
      // probe-only against the STAGED parent/child index
      SegmentedIndex.hasChildSearch(s, segIndexJoinDir(s, d),
        Seq("vector"), childType = "answer", parentType = "question",
        scoreMode = "max", k = 30)),

    // --- has_parent with score=true (children of matching parents,
    //     each handed its parent's score — one parent, no combiner,
    //     no float-order hazard) (SegmentedIndex.hasParentSearch) ---
    "q286_has_parent" -> ((s, d) =>
      // probe-only against the STAGED parent/child index
      SegmentedIndex.hasParentSearch(s, segIndexJoinDir(s, d),
        Seq("spark"), parentType = "question", childType = "answer",
        withScore = true, k = 40)),

    // --- gauss + exp decay kernels (ES's function_score decay
    //     family beyond q239's linear): multipliers are libm-exp
    //     tolerance-grade (the scaladoc's oracle contract), so the
    //     entry compares BANDS — decay-power thresholds the exact
    //     exponent arithmetic can't misplace (boundary distances
    //     d % 100 == 0 excluded, where a 1-ulp libm difference
    //     COULD flip a band) — plus the (0,1] range boolean, the
    //     q43 tolerance-assertion precedent
    //     (SegmentedIndex.decayScoreSearch) ---
    "q284_decay_gauss_exp" -> ((s, d) => {
      val root = segIndexDir(s, d)
      val g = SegmentedIndex.decayScoreSearch(s, root, Seq("vector"),
        "n_chars", origin = 300L, scale = 100L, k = 500,
        decay = 0.5, kernel = "gauss")
        .select(col("doc_id"), col("decay_mult").as("gm"))
      val e = SegmentedIndex.decayScoreSearch(s, root, Seq("vector"),
        "n_chars", origin = 300L, scale = 100L, k = 500,
        decay = 0.5, kernel = "exp")
        .select(col("doc_id"), col("decay_mult").as("em"))
      val dist = Tables.table(s, d, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"), abs(col("n_chars") - 300).as("dist"))
      def band(c: String) = (1 to 16)
        .map(k => when(col(c) < lit(math.pow(0.5, k)), 1L)
          .otherwise(0L))
        .reduce(_ + _)
      g.join(e, Seq("doc_id")).join(dist, Seq("doc_id"))
        .filter(col("dist") % 100 =!= 0)
        .select(col("doc_id"), col("dist"),
          band("gm").as("gauss_band"), band("em").as("exp_band"),
          (col("gm") > lit(0.0d) && col("gm") <= lit(1.0d) &&
            col("em") > lit(0.0d) && col("em") <= lit(1.0d))
            .as("in_unit"))
        .orderBy("doc_id").limit(40)
    }),

    // --- query_string (the STRICT Lucene grammar — field prefixes,
    //     AND/OR/NOT with grouping, ^boosts; malformed input is a
    //     400, the opposite contract of q253's lenient box): nested
    //     boolean scoring — a failed conjunction's terms contribute
    //     zero; meta:src3 scores with the meta family's own df/N
    //     (QueryString.search) ---
    "q283_query_string" -> ((s, d) =>
      // probe-only against the STAGED per-field families
      graft.operators.QueryString.search(s,
        Seq("text" -> segIndexDir(s, d),
          "meta" -> segIndexMetaDir(s, d)),
        "text", "(spark AND join) OR meta:src3^2 AND NOT stream",
        k = 20)),

    // --- geo_polygon query (the geo_shape polygon filter for
    //     points): PNPOLY crossing parity, the polygon's bbox
    //     pre-filtering through tile pruning + footer pushdown
    //     (GeoOps.polygonSearch) ---
    "q279_geo_polygon" -> ((s, d) => {
      val poly = Seq((40.0, -50.0), (40.0, 10.0), (0.0, 30.0),
        (-30.0, 0.0), (0.0, -60.0))
      val (lats, lons) = (poly.map(_._1), poly.map(_._2))
      val g = graft.engine.Pq.read(s, geoDir(s, d))
        .filter(col("pt").isin(geoTiles(lats.max, lons.min,
          lats.min, lons.max): _*))
      GeoOps.polygonSearch(g, "c_custkey", poly, k = 40)
        .withColumnRenamed("c_custkey", "id")
    }),

    // --- FUZZY completion suggest (typo-tolerant autocomplete:
    //     "vectr" → "vector"): levenshtein over ±1-length prefixes
    //     inside the pb-pruned _complete walk; ES's prefix_length=1
    //     default kept fixed because it's what preserves the
    //     partition pruning (SegmentedIndex.completionSuggestFuzzy) ---
    "q278_completion_fuzzy" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.completionSuggestFuzzy(s, segIndexDir(s, d),
        "vectr", k = 10)),

    // --- collapse with inner_hits ("one per seller, plus their
    //     next-best offers"): group heads rank the page, each kept
    //     group carries its top-3 members — the rank window is
    //     group-partitioned, the inner expansion joins broadcast
    //     group keys (SegmentedIndex.collapseInnerHits) ---
    "q277_collapse_inner" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.collapseInnerHits(s, segIndexDir(s, d),
        searchTerms, "lang", kGroups = 5, innerN = 3)),

    // --- span_not (the span family's last member): vector
    //     occurrences NOT adjacent to a customer occurrence —
    //     pre/post kill windows, doc-local band join
    //     (SegmentedIndex.spanNotSearch) ---
    "q276_span_not" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.spanNotSearch(s, segIndexDir(s, d),
        include = Seq("vector"), exclude = Seq("customer"),
        pre = 1, post = 1, k = 25)),

    // --- search_template (saved parameterized queries): mustache-
    //     lite params into simple_query_string
    //     (SegmentedIndex.searchTemplate) ---
    "q275_search_template" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.searchTemplate(s, segIndexDir(s, d),
        "+{{must}} | {{opt}}",
        Map("must" -> "spark", "opt" -> "join"), k = 20)),

    // --- point-in-time search (ES PIT / Lucene's pinned
    //     IndexReader): a retained manifest generation is a frozen
    //     view — the search pinned BEFORE the delete still sees every
    //     document, because segments are immutable and retirement is
    //     vacuum-deferred (SegmentedIndex.searchAt) ---
    "q189_pit_search" -> ((s, d) => {
      // probe-only against the STAGED index: its lifecycle is
      // append(a), append(b), delete(d1) — generation 2 is the
      // complete corpus pinned BEFORE the tombstone commit
      val root = segIndexDir(s, d)
      val pin = SegmentedIndex.generations(root)(1)
      SegmentedIndex.searchAt(s, root, pin, searchTerms, k = 20)
    }),

    // --- term vectors (ES `_termvectors`): one live document's
    //     term/tf/positions straight from the positional postings —
    //     Lucene's term-vector read off this layout; positions
    //     surfaced as a comma-joined string (the driver compare
    //     cannot sort array cells) (SegmentedIndex.termVectors) ---
    "q190_term_vectors" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termVectors(s, segIndexDir(s, d), docId = 7L)
        .withColumn("positions", array_join(
          expr("transform(positions, x -> cast(x as string))"), ","))),

    // --- batched term vectors (ES `_mtermvectors`): several ids'
    //     vectors from ONE postings read — the id set pushes into
    //     the scan as one IN filter (q221's amortization argument on
    //     the fetch side) (SegmentedIndex.multiTermVectors) ---
    "q222_mtermvectors" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.multiTermVectors(s, segIndexDir(s, d),
          Seq(3L, 7L, 11L))
        .withColumn("positions", array_join(
          expr("transform(positions, x -> cast(x as string))"), ","))),

    // --- hit count (ES `GET /idx/_count`): live docs matching any
    //     query term — no scoring, no fetch, one distinct-count row
    //     (SegmentedIndex.countQuery) ---
    "q223_count" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.countQuery(s, segIndexDir(s, d),
        Seq("spark", "vector"))),

    // --- delete-by-query (ES `_delete_by_query`): tombstone the
    //     live hit set of a term query in one manifest commit; the
    //     statistics keep counting the deleted docs until merge
    //     while the hit lists drop them immediately
    //     (SegmentedIndex.deleteByQuery) ---
    "q191_delete_by_query" -> ((s, d) => {
      // mutable CLONE of the staged index (its d1 tombstones ride
      // along — the oracle excludes both victim sets)
      val root = segIndexClone(s, d, "dbq")
      SegmentedIndex.deleteByQuery(s, root, Seq("join"), "dq1")
      SegmentedIndex.search(s, root, Seq("spark", "vector"), k = 20)
    }),

    // --- reindex + alias flip (ES `_reindex` and `_aliases` — the
    //     zero-downtime rebuild workflow): live _source rows re-analyze
    //     into a fresh index under a new bucket count, tombstones
    //     don't travel (the destination starts at post-merge stats),
    //     and the search runs THROUGH the atomically flipped alias
    //     (SegmentedIndex.reindex/setAlias/searchAlias) ---
    "q188_reindex_alias" -> ((s, d) => {
      // reindex reads the STAGED index without mutating it — only
      // the destination and the alias are per-invocation
      val stem = "graft_ri_" + graft.engine.Bucketing.fingerprint8(d) +
        "_" + java.util.UUID.randomUUID().toString.take(8)
      val v1 = segIndexDir(s, d)
      val v2 = new java.io.File(
        System.getProperty("java.io.tmpdir"), stem + "_v2").getPath
      val alias = new java.io.File(
        System.getProperty("java.io.tmpdir"), stem + "_alias").getPath
      SegmentedIndex.setAlias(alias, v1)
      SegmentedIndex.reindex(s, v1, v2, nBuckets = 4)
      SegmentedIndex.setAlias(alias, v2)
      SegmentedIndex.searchAlias(s, alias, searchTerms, k = 20)
    }),

    // --- terms enumeration (ES `_terms_enum` — field-value
    //     autocomplete): the first k vocabulary terms with the
    //     prefix, each with df, ENTIRELY from the vocabulary-sized
    //     dictionaries — postings never read, corpus never scanned;
    //     dictionary semantics (tombstoned docs still count, ES's
    //     own documented caveat) (SegmentedIndex.termsEnum) ---
    "q201_terms_enum" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termsEnum(s, segIndexDir(s, d), "dat", k = 20)),

    // --- ANALYZED search (the ES `standard`/`english` analyzer tier
    //     — the fidelity gap closed: the ES the reference writes to
    //     lowercases, strips punctuation and can stem/stop, so
    //     "SPARK" and "spark" are ONE term there): query literals
    //     analyze with the index's chain — case folds, 'the' drops
    //     as a stopword, 'Joins' stems onto the indexed 'join' —
    //     against the staged english-analyzed index; the oracle
    //     mirrors the whole chain in DuckDB SQL, the stemmer CASE
    //     shared verbatim between dialects (Analyzer.stemSql)
    //     (SegmentedIndex.search + Analyzer) ---
    "q202_analyzed_search" -> ((s, d) =>
      // probe-only against the STAGED english index (segIndexEnDir)
      SegmentedIndex.search(s, segIndexEnDir(s, d),
        Seq("SPARK", "the", "Joins", "vector"), k = 20)),

    // --- analyzer MIGRATION (ES's reindex-to-change-analyzer recipe,
    //     the only way to change a field's analyzer there too): the
    //     whitespace staged index reindexes into a fresh english
    //     destination — live _source re-analyzed under the new chain,
    //     tombstones dropped — and serving equals a from-scratch
    //     english index over the live docs (the oracle computes
    //     exactly that) (SegmentedIndex.reindex + Analyzer) ---
    "q203_analyzer_reindex" -> ((s, d) => {
      // the reindex is idempotent per destination (append's batch-key
      // guard) and staged up front — warm invocations are
      // manifest-parse no-ops, the query measures serving
      val dst = reindexEnDir(s, d)
      SegmentedIndex.search(s, dst,
        Seq("SPARK", "the", "Joins", "vector"), k = 20)
    }),

    // --- analyzed PHRASE with a stopword position gap (ES
    //     match_phrase under the english analyzer): the query
    //     'Sparks the Line' analyzes to spark@0, line@2 — 'the'
    //     consumed position 1 — so only documents with exactly one
    //     token between spark and line match; the oracle replays the
    //     positional analysis in SQL (unnest + generate_subscripts)
    //     (SegmentedIndex.phraseSearch + Analyzer) ---
    "q204_analyzed_phrase" -> ((s, d) =>
      // probe-only against the STAGED english index (segIndexEnDir)
      SegmentedIndex.phraseSearch(s, segIndexEnDir(s, d),
        Seq("Sparks", "the", "Line"))),

    // --- CUSTOM analysis settings (ES `PUT /idx
    //     { settings.analysis }` — the per-index analyzer knobs):
    //     the staged index carries an extra stopword ('table') and
    //     two index-time synonym rules (big>large, fast>quick) in
    //     its manifest spec; a query for the VALUES hits key-only
    //     docs through the stacked index tokens (query analysis
    //     never re-expands — the search-analyzer contract), and the
    //     'Table' query term drops as a stopword. The oracle
    //     replays base analysis + stacking in SQL
    //     (Analyzer.custom + SegmentedIndex.search) ---
    "q217_synonym_search" -> ((s, d) =>
      // probe-only against the STAGED custom index (segIndexSynDir)
      SegmentedIndex.search(s, segIndexSynDir(s, d),
        Seq("LARGE", "Quick", "Table"), k = 20)),

    // --- synonym EQUIVALENCE GROUP (ES synonym files' comma lines:
    //     "big, large" — every member means every other): the group
    //     canonicalizes to the directed closure at index time, so a
    //     query for EITHER member hits every doc of the group
    //     symmetrically (each stacked token carries the occurrence's
    //     tf; both query terms match every group doc, df pooled by
    //     the stacking). The oracle replays the closure as two
    //     UNION ALL stacking arms (Analyzer.customGroups) ---
    "q227_synonym_group" -> ((s, d) =>
      // probe-only against the STAGED group index (segIndexGrpDir)
      SegmentedIndex.search(s, segIndexGrpDir(s, d),
        Seq("BIG", "Large"), k = 20)),

    // --- QUERY-TIME synonym expansion (ES's synonym filter in the
    //     SEARCH analyzer — the hot-swappable-vocabulary placement):
    //     the index stores exactly what documents say ('rapid' is
    //     never stacked at ingest); the query term Rapid expands at
    //     search to {rapid, fast}, EACH SCORED WITH ITS OWN df — the
    //     df semantics that separates this from index-time stacking.
    //     The fixture corpus contains no 'rapid' at all, so every hit
    //     arrives through the expansion: recall gained with zero
    //     reindexing (SegmentedIndex.search via the chain's qsyn) ---
    "q228_query_synonyms" -> ((s, d) =>
      // probe-only against the STAGED group index (segIndexGrpDir)
      SegmentedIndex.search(s, segIndexGrpDir(s, d),
        Seq("Rapid"), k = 20)),

    // --- MULTI-WORD (graph) query synonym (round-18, upgrading the
    //     r17 loud refusal): `nyc > new york` in the search analyzer
    //     rewrites the query to TermQuery(nyc) OR PhraseQuery(new
    //     york) — Lucene's SynonymGraphFilter query-time behavior;
    //     the index and its one-term-per-position invariant are
    //     untouched. Docs with literal nyc hit through the term
    //     clause (tf·N/df), docs with ADJACENT new york through the
    //     phrase clause (n_occ·N/df_phrase, the pinned exact-phrase
    //     pseudo-term stats); reversed "york new" must NOT match
    //     (SegmentedIndex.search via Analyzer.queryTermsSplit) ---
    "q348_graph_synonym" -> ((s, d) =>
      // probe-only against the STAGED graph-synonym index
      SegmentedIndex.search(s, segIndexGraphDir(s, d),
        Seq("NYC"), k = 30)),

    // --- completion suggester (ES `suggest.completion` — the
    //     FST-backed search-as-you-type path): dictionary terms
    //     starting with the prefix rank weight desc (df over the
    //     per-segment `_complete/` dictionaries, first-char
    //     partition pruning), dedup by output, term the tiebreak;
    //     the oracle is the honest exhaustive LIKE-prefix df scan
    //     (SegmentedIndex.completionSuggest) ---
    "q218_completion_suggest" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.completionSuggest(s, segIndexDir(s, d),
        prefix = "s", k = 10)),

    // --- batched multi-query search (ES `_msearch` — one request,
    //     many searches): three term queries answer from ONE
    //     bucket-pruned postings scan of their terms' union, one
    //     shared dfs phase, per-query top-k via a query-partitioned
    //     window; scoring pivots over the batch's global sorted term
    //     list so double addition order is pinned cross-engine
    //     (SegmentedIndex.multiQuerySearch) ---
    "q221_msearch" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.multiQuerySearch(s, segIndexDir(s, d),
        Seq("qa" -> Seq("spark", "join"),
          "qb" -> Seq("vector", "fast"),
          "qc" -> Seq("line")), k = 10)),

    // --- phrase suggester (ES `suggest.phrase` — whole-phrase
    //     did-you-mean, closing the suggest family after term/
    //     completion/phrase-prefix): per-position candidates from the
    //     vocabulary via recall-1 SymSpell blocking + exact
    //     levenshtein, whole-phrase rescoring by a df-backed add-one
    //     unigram LM, max_errors-capped changes, and suggestions must
    //     beat the input's own LM score (confidence 1.0 — the
    //     unchanged phrase never returns); 'spqrk join' corrects to
    //     'spark join' (SegmentedIndex.phraseSuggest) ---
    "q230_phrase_suggest" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.phraseSuggest(s, segIndexDir(s, d),
        input = "spqrk join", k = 5)),

    // --- HETEROGENEOUS federation with per-index analysis (ES's
    //     exact multi-index semantics when members mix analyzers):
    //     each index analyzes the query with its OWN chain ('the'
    //     survives on the whitespace member, drops on the english
    //     one; 'Sparks' reaches english as the stem 'spark'), df
    //     pools BY TERM STRING across every member's dictionary, N
    //     is the family total; the strict multiSearch still throws
    //     for this pair — the two contracts are deliberately
    //     separate (SegmentedIndex.multiSearchPerIndex) ---
    "q226_federated_mixed" -> ((s, d) =>
      // probe-only against the STAGED whitespace + english pair
      SegmentedIndex.multiSearchPerIndex(s,
        Seq("e" -> segIndexEnDir(s, d), "w" -> segIndexDir(s, d)),
        Seq("Sparks", "the", "Joins"), k = 20)),

    // --- index stats (ES `GET /idx/_stats`): segment/tombstone
    //     counts and stats-phase doc/token totals from the MANIFEST
    //     (zero data read), deleted count from the victim-set-sized
    //     tombstone sidecars, live = docs − deleted; the lifecycle
    //     constants (2 segments, 1 del batch) ride as oracle
    //     literals, the rest computes from the raw corpus
    //     (SegmentedIndex.indexStats) ---
    "q224_index_stats" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.indexStats(s, segIndexDir(s, d))),

    // --- query rescoring (ES `rescore` — the two-phase ranking):
    //     cheap first pass everywhere, the expensive
    //     field-value-factor scorer over the top WINDOW only; the
    //     window re-sorts by the combined score, the tail keeps its
    //     first-pass order strictly below (ES's window contract — a
    //     tail doc can never climb past the window)
    //     (SegmentedIndex.rescoreSearch) ---
    "q225_rescore" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.rescoreSearch(s, segIndexDir(s, d), searchTerms,
        field = "n_chars", windowSize = 10, k = 15,
        queryWeight = 1.0, rescoreWeight = 0.001)),

    // --- CHAINED rescoring (ES's rescore ARRAY — phases in
    //     sequence, each seeing the previous phase's results through
    //     a NARROWING window): phase 1 boosts the top 10 by n_chars,
    //     phase 2 re-boosts only ITS top 4 by doc_id; rows report how
    //     many phases touched them and order (n_phases desc,
    //     score desc) — a phase-1 row can never climb past the
    //     phase-2 window, however large its boost
    //     (SegmentedIndex.rescoreChain) ---
    "q229_rescore_chain" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.rescoreChain(s, segIndexDir(s, d), searchTerms,
        phases = Seq(("n_chars", 10, 1.0, 0.001),
          ("doc_id", 4, 1.0, 0.0001)), k = 15)),

    // --- completion FIELD (ES's actual completion mapping —
    //     doc-supplied inputs AND weights): suggestions come from a
    //     stored field with per-doc weights, duplicate outputs keep
    //     the max weight, live docs only; served from the MATERIALIZED
    //     per-segment `_cfield/` artifact (the index declares the
    //     cf= mapping) — first-code-point dir pruning at planning
    //     time, input-sorted footer pruning, candidate-sized
    //     tombstone anti-join; the stored scan remains only as the
    //     legacy-segment fallback
    //     (SegmentedIndex.completionFieldSuggest) ---
    "q219_completion_field" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.completionFieldSuggest(s, segIndexDir(s, d),
        inputField = "source", weightField = "n_chars",
        prefix = "src1", k = 8)),

    // --- FAMILY-WIDE aggregation (ES `aggs` on `GET /<stem>-*` —
    //     analytics over a rolled index family without manual
    //     fan-out): the q196 rollover family's stats aggregation
    //     routes through familyRoots like searchFamily already does
    //     for search, and equals the same stats over one combined
    //     index — the oracle computes exactly that
    //     (SegmentedIndex.familyStatsFacet) ---
    "q205_family_stats" -> ((s, d) =>
      // probe-only against the STAGED rollover family — the
      // aggregation is the demonstration, the family is fixture
      // (q196 keeps demonstrating the rollover lifecycle itself)
      SegmentedIndex.familyStatsFacet(s, familyAliasPath(s, d),
        searchTerms, "n_chars")),

    // --- more-like-this (ES `more_like_this` — the related-items
    //     read): the input doc's own top tf·idf terms (in-plan
    //     bounded selection, min_doc_freq gate) become the query,
    //     the doc itself excluded; exact-integer rank key keeps the
    //     data-dependent term set on the oracle surface
    //     (SegmentedIndex.moreLikeThis) ---
    "q206_more_like_this" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.moreLikeThis(s, segIndexDir(s, d), docId = 7L,
        k = 20)),

    // --- term suggester (ES `suggest.term` — "did you mean"):
    //     dictionary terms within the Lucene-AUTO edit allowance of
    //     the input, SymSpell-blocked (recall-1), ranked distance
    //     asc, df desc, term asc — df in the dictionary phase
    //     (tombstoned docs count until merge, ES's documented
    //     suggester caveat) (SegmentedIndex.termSuggest) ---
    "q207_term_suggest" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.termSuggest(s, segIndexDir(s, d), "vectro",
        k = 5)),

    // --- range aggregation (ES `aggs.range` with explicit bounds):
    //     every REQUESTED range in the output — zero-count ranges
    //     included (ES returns all requested buckets), from
    //     inclusive / to exclusive, over the live hit set
    //     (SegmentedIndex.rangeFacet) ---
    "q208_range_agg" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.rangeFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars", Seq((0L, 100L), (100L, 200L), (200L, 300L),
          (300L, 100000L), (100000L, 200000L)))),

    // --- percolation (ES percolator — search REVERSED: registered
    //     queries, incoming documents report which they match; the
    //     alerting/saved-search primitive): conjunction semantics
    //     (match with operator:and), one term equi-join — batch ×
    //     registry only through shared vocabulary (Search.percolate)
    //     ---
    "q209_percolate" -> ((s, d) => {
      import s.implicits._
      val registered = Seq(
        (1L, "spark join"),
        (2L, "vector"),
        (3L, "spark nosuchterm"),
        (4L, "the a")).toDF("query_id", "qtext")
      Search.percolate(
        docs(s, d).filter(col("doc_id") < 150)
          .select("doc_id", "text"),
        registered)
    }),

    // --- rank_eval (ES's `_rank_eval` relevance harness,
    //     round-18): two served search pages judged against the
    //     vector-holding docs — precision@5 / recall@5 / MRR as
    //     exact small-integer divisions; NDCG stated out (libm)
    //     (Search.rankEval) ---
    "q359_rank_eval" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("score"), asc("doc_id"))
      def page(qid: Long, terms: Seq[String]) =
        SegmentedIndex.search(s, segIndexDir(s, d), terms, k = 10)
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(lit(qid).as("query_id"), col("doc_id"), col("rank"))
      val results = page(1L, Seq("spark"))
        .unionByName(page(2L, Seq("customer")))
      val vdocs = docs(s, d)
        .filter(col("doc_id") < 150 && col("doc_id") % 37 =!= 5 &&
          array_contains(split(col("text"), " "), "vector"))
        .select("doc_id")
      val judgments = vdocs.withColumn("query_id", lit(1L))
        .unionByName(vdocs.withColumn("query_id", lit(2L)))
      Search.rankEval(results, judgments, k = 5)
    }),

    // --- percolation over the QUERY DSL subset (round-18, the
    //     saved-search shapes real alerting registers): bool rows of
    //     must / exact PHRASE / must_not / numeric RANGE clauses,
    //     candidates strictly from positive term evidence — one
    //     batch tokenize, registry-bounded joins, never a cross
    //     join (Search.percolateDsl) ---
    "q349_percolate_dsl" -> ((s, d) => {
      import s.implicits._
      val no = Option.empty[String]
      val noD = Option.empty[Double]
      val registered = Seq(
        // must only (the q209 shape)
        (1L, Option("spark join"), no, no, no, noD, noD),
        // phrase only: adjacent "merge group"
        (2L, no, Option("merge group"), no, no, noD, noD),
        // must + must_not
        (3L, Option("spark"), no, Option("stream"), no, noD, noD),
        // must + range on n_chars
        (4L, Option("customer"), no, no, Option("n_chars"),
          Option(100.0), Option(300.0)),
        // must + phrase + gte-only range
        (5L, Option("vector"), Option("customer vector"), no,
          Option("n_chars"), Option(150.0), noD))
        .toDF("query_id", "must", "phrase", "must_not",
          "range_field", "range_lo", "range_hi")
      Search.percolateDsl(
        docs(s, d).filter(col("doc_id") < 150)
          .select("doc_id", "text", "n_chars"),
        registered)
    }),

    // --- percolator `should` + `minimum_should_match` (round-18):
    //     ES's bool-should rule — a pure-should registration needs
    //     ≥ msm (default 1) distinct should terms; beside a must,
    //     msm defaults to 0 (scoring-only, gates nothing)
    //     (Search.percolateDsl should/msm columns) ---
    "q355_percolate_should" -> ((s, d) => {
      import s.implicits._
      val no = Option.empty[String]
      val noI = Option.empty[Int]
      val registered = Seq(
        // pure should, default msm = 1: any of the three terms
        (1L, no, Option("spark vector stream"), noI),
        // pure should, explicit msm = 2: at least two distinct
        (2L, no, Option("spark vector stream"), Option(2)),
        // must + should with explicit msm = 1: both gate
        (3L, Option("customer"), Option("spark join"), Option(1)),
        // must + should, default msm = 0: should gates nothing
        (4L, Option("customer"), Option("zzzabsent"), noI))
        .toDF("query_id", "must", "should", "msm")
        .withColumn("phrase", lit(null).cast("string"))
        .withColumn("must_not", lit(null).cast("string"))
        .withColumn("range_field", lit(null).cast("string"))
        .withColumn("range_lo", lit(null).cast("double"))
        .withColumn("range_hi", lit(null).cast("double"))
      Search.percolateDsl(
        docs(s, d).filter(col("doc_id") < 150)
          .select("doc_id", "text", "n_chars"),
        registered)
    }),

    // --- WAND-pruned BM25 with the exact pair certificate (Lucene's
    //     ACTUAL serving path — MaxScore/WAND runs on BM25 impacts):
    //     the equal-df dictionary pair ranks through the pruned
    //     two-phase scorer (per-term idf·(k1+1) ceilings + block-max
    //     refinement) and the hash-exact integer-ratio certificate
    //     proves the pruning returned the exhaustive top-k, order
    //     included, under the Lucene stats phases
    //     (SegmentedIndex.bm25MaxScoreTopK/bm25WandAudit) ---
    "q215_bm25_wand" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.bm25WandAudit(s, segIndexDir(s, d), k = 20)),

    // --- cardinality + value_count aggregation (ES `cardinality` /
    //     `value_count`): exact distinct + non-null value count of a
    //     stored field over the live hit set — exact keeps it
    //     hash-oracled; ES serves HLL for this, the documented swap
    //     at scale (SegmentedIndex.cardinalityFacet) ---
    "q216_cardinality_agg" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.cardinalityFacet(s, segIndexDir(s, d),
        searchTerms, "source")),

    // --- composite aggregation (ES `composite` — the PAGINATED agg
    //     high-cardinality exports need): source buckets keyed-order,
    //     page 2 resumes strictly after a cursor, each page an
    //     independent top-size (SegmentedIndex.compositeFacet) ---
    "q212_composite_agg" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.compositeFacet(s, segIndexDir(s, d), searchTerms,
        "source", size = 5, after = Some("src12"))),

    // --- function-score (ES `function_score` +
    //     `field_value_factor`, multiply — boost-by-popularity): the
    //     relevance score multiplies by the stored n_chars, re-ranked
    //     by the boosted score; one exact double multiplication keeps
    //     the boosted ranking oracle-exact
    //     (SegmentedIndex.functionScoreSearch) ---
    "q213_function_score" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.functionScoreSearch(s, segIndexDir(s, d),
        searchTerms, "n_chars", k = 20)),

    // --- the `_analyze` API (ES `POST /_analyze` — the analyzer
    //     inspection endpoint): every doc's analyzed (pos, term)
    //     stream under the english chain, stopword gaps included —
    //     exactly what the index stores (Analyzer.analyzeFrame) ---
    "q214_analyze_api" -> ((s, d) =>
      graft.operators.Analyzer.analyzeFrame(
        docs(s, d).filter(col("doc_id") < 50).select("doc_id", "text"),
        graft.operators.Analyzer.English)),

    // --- ANALYZED highlighting (ES's unified highlighter on an
    //     analyzed index): a display token marks when its ANALYZED
    //     form equals an analyzed query term — 'Joins' in the query
    //     stems onto the corpus token 'join', case preserved in the
    //     snippet; k covers every live hit so the oracle replays the
    //     full hit set (SegmentedIndex.highlightPositional) ---
    "q211_analyzed_highlight" -> ((s, d) =>
      // probe-only against the STAGED english index (segIndexEnDir)
      SegmentedIndex.highlightPositional(s, segIndexEnDir(s, d),
        Seq("SPARK", "Joins", "vector"), k = 500)),

    // --- top-hits sub-aggregation (ES `aggs.terms` + `top_hits` —
    //     "best N per category"): per-source top-2 scored hits via
    //     ONE partitioned window over the scored hit set joined to
    //     the doc-values read, never a per-bucket query fan-out
    //     (SegmentedIndex.topHitsFacet) ---
    "q210_top_hits" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.topHitsFacet(s, segIndexDir(s, d), searchTerms,
        "source", perBucket = 2)),

    // --- multi-index aggregation (ES `aggs` on a multi-index
    //     request — the read that makes rollover families usable for
    //     analytics): the corpus-split pair aggregates exactly like
    //     one combined index, docs counted once per (_index,_id)
    //     (SegmentedIndex.multiFacet) ---
    "q200_multi_index_facet" -> ((s, d) => {
      // probe-only against the STAGED corpus-split index pair
      val (left, right) = segIndexPairDirs(s, d)
      SegmentedIndex.multiFacet(s,
        Seq("left" -> left, "right" -> right), searchTerms, "source",
        kBuckets = 10)
    }),

    // --- field collapsing (ES `collapse` — one result per domain in
    //     every search UI): the ranked hits keep only the top-scored
    //     representative per stored `source` value, top-k AFTER the
    //     collapse (SegmentedIndex.collapseSearch) ---
    "q198_collapse_search" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.collapseSearch(s, segIndexDir(s, d), searchTerms,
        "source", k = 20)),

    // --- score explanation (ES `_explain`): one live document's
    //     score decomposed into per-term tf·(N/df) contributions
    //     under the Lucene stats phases; a tombstoned doc explains
    //     to zero rows (matched: false)
    //     (SegmentedIndex.explainScore) ---
    "q199_explain_score" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.explainScore(s, segIndexDir(s, d), docId = 7L,
        searchTerms)),

    // --- phrase-prefix query (ES `match_phrase_prefix` — THE
    //     autocomplete query): leading positions exact, the last
    //     position any dictionary term starting with the prefix
    //     (max_expansions=50, smallest-first — ES's cap); expansion
    //     walks the vocabulary-sized dictionaries, the anchor-count
    //     match reads bucket-pruned postings
    //     (SegmentedIndex.phrasePrefixSearch) ---
    "q197_phrase_prefix" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.phrasePrefixSearch(s, segIndexDir(s, d),
        leading = Seq("big"), prefix = "or")),

    // --- wildcard query (ES `wildcard`, Lucene's multi-term
    //     automaton in constant-score rewrite): `?` exactly one char,
    //     `*` any run, everything else literal; dictionary-walk
    //     expansion then bucket-pruned postings
    //     (SegmentedIndex.wildcardSearch) ---
    "q195_wildcard_search" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.wildcardSearch(s, segIndexDir(s, d), "d?ta*",
        k = 50)),

    // --- index ROLLOVER (ES `_rollover`, the first step of every
    //     ILM policy): the write alias flips to a fresh family index
    //     at the doc threshold (an O(1) manifest-header check),
    //     sealed indices stay immutable, and the family search's
    //     global dfs stats make the seam invisible to relevance
    //     (SegmentedIndex.rollover/searchFamily) ---
    "q196_rollover_family" -> ((s, d) => {
      // the tokenize-heavy pre-rollover state (the 100-doc first
      // append) is a STAGED template cloned driver-side per
      // invocation; the entry still demonstrates the lifecycle
      // itself: the threshold flip, the post-flip append landing in
      // the fresh index, and the seam-invisible family search
      val alias = familyPreClone(s, d)
      val dd = docs(s, d).filter(col("doc_id") < 150)
      SegmentedIndex.rollover(alias, maxDocs = 50L)
      SegmentedIndex.append(s, SegmentedIndex.resolveAlias(alias),
        dd.filter(col("doc_id") >= 100), "b")
      SegmentedIndex.searchFamily(s, alias, searchTerms, k = 20)
    }),

    // --- HYBRID search via reciprocal-rank fusion (ES 8's `rrf`
    //     retriever — the standard BM25+kNN hybrid): the lexical
    //     top-20 from the staged segmented index fuses with the dense
    //     cosine top-20 from the embeddings by 1/(60+rank) — purely
    //     rank-based, no score calibration between the heterogeneous
    //     rankers (Search.rrfFuse) ---
    "q194_hybrid_rrf" -> ((s, d) => {
      val lex = SegmentedIndex.search(s, segIndexDir(s, d),
        searchTerms, 20)
      val dense = Similarity
        .bruteForceTopK(emb(s, d), "vec_id = 3", k = 20)
        .select("neighbor_id", "cos")
      Search.rrfFuse(Seq((lex, "doc_id", "score"),
        (dense, "neighbor_id", "cos")), kRrf = 60, k = 20)
    }),

    // --- nested sub-aggregation (ES `aggs.terms` + inner
    //     `aggs.stats` — group-and-describe): the hit set buckets by
    //     `source` and each bucket carries n_chars stats; one
    //     column-pruned stored read feeds both roles
    //     (SegmentedIndex.facetStats) ---
    "q193_facet_stats" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.facetStats(s, segIndexDir(s, d), searchTerms,
        bucketField = "source", statField = "n_chars",
        kBuckets = 10)),

    // --- stats aggregation (ES `aggs.stats`): count/min/max/sum/avg
    //     of a stored numeric field over the full live hit set —
    //     column-pruned doc-values read, one partial+final agg to a
    //     single row (SegmentedIndex.statsFacet) ---
    "q192_stats_facet" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.statsFacet(s, segIndexDir(s, d), searchTerms,
        "n_chars")),

    // --- significant-terms aggregation (ES `significant_terms` —
    //     "what is unusual about these results"): terms
    //     overrepresented in the hit set vs the whole index, JLH
    //     scored, min_doc_count=3 gate; background df from the
    //     vocabulary-sized dictionaries, foreground from the hit
    //     docs' live term lists (SegmentedIndex.significantTerms) ---
    "q186_significant_terms" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.significantTerms(s, segIndexDir(s, d),
        searchTerms, kTerms = 20)),

    // --- significant_terms with background_filter (round-18):
    //     "unusual vs the ENGLISH docs", not vs the whole index —
    //     the background recounted against the live lang='en' set
    //     (ES recounts too and warns of the cost); terms with no
    //     background evidence excluded, stated
    //     (SegmentedIndex.significantTermsFiltered) ---
    "q358_significant_bg_filter" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.significantTermsFiltered(s, segIndexDir(s, d),
        searchTerms, kTerms = 20, bgField = "lang",
        bgValue = "en")),

    // --- bool query with a filter-context RANGE clause (ES
    //     `bool.filter: {range}` — scoring and filtering separated
    //     exactly as ES separates them): the range constrains on the
    //     stored doc-values column, pushed into the parquet scan,
    //     and never touches df or the score
    //     (SegmentedIndex.boolSearch rangeFilter) ---
    "q187_bool_range_filter" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.boolSearch(s, segIndexDir(s, d),
        must = Seq("spark", "data"), should = Seq("vector"),
        mustNot = Seq("join"), k = 20,
        rangeFilter = Some(("n_chars", 100L, 400L)))),

    // --- deep pagination (ES `search_after`): page 1's last row is
    //     the cursor (score + the mandated doc_id tiebreaker makes
    //     the sort total), page 2 is the top-k strictly after it —
    //     each page an independent TakeOrderedAndProject, nothing
    //     accumulating with depth, which is why ES deprecates
    //     from+size deep paging (SegmentedIndex.searchAfter) ---
    "q183_search_after" -> ((s, d) => {
      // probe-only against the STAGED index (segIndexDir)
      val root = segIndexDir(s, d)
      // the cursor is the client-held last row of page 1 (k-bounded)
      val cursor = SegmentedIndex.search(s, root, searchTerms, k = 20)
        .collect().last
      SegmentedIndex.searchAfter(s, root, searchTerms, k = 20,
        afterScore = cursor.getDouble(1), afterDocId = cursor.getLong(0))
    }),

    // --- prefix query (ES `prefix`, Lucene's multi-term query in its
    //     default constant-score rewrite): the dictionary walk
    //     expands the prefix to its matched terms (vocabulary-sized
    //     pass 1), only those terms' postings read (bucket-pruned
    //     pass 2), every matching live doc scores 1.0
    //     (SegmentedIndex.prefixSearch) ---
    "q184_prefix_search" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.prefixSearch(s, segIndexDir(s, d), "dat",
        k = 50)),

    // --- field-sorted search (ES `sort: [{field: desc}]` — the
    //     list-by-date request every search UI makes): the full live
    //     hit set orders by a stored doc-values column, read
    //     column-pruned from the stored parquet; TakeOrderedAndProject
    //     top-k, never a full sort (SegmentedIndex.sortedSearch) ---
    "q185_sorted_search" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.sortedSearch(s, segIndexDir(s, d), searchTerms,
        "n_chars", k = 20, ascending = false)),

    // --- federated multi-index search (ES `GET /idx1,idx2/_search`
    //     under dfs_query_then_fetch): the corpus splits across two
    //     independent indices (own bucket counts, manifests,
    //     per-index tombstones), and GLOBAL df/N statistics make the
    //     federation lossless — the ranking equals one combined index
    //     (SegmentedIndex.multiSearch) ---
    "q182_multi_index_search" -> ((s, d) => {
      // probe-only against the STAGED corpus-split index pair
      val (left, right) = segIndexPairDirs(s, d)
      SegmentedIndex.multiSearch(s,
        Seq("left" -> left, "right" -> right), searchTerms, k = 20)
    }),

    // --- boolean query from the index (ES's `bool` — the composition
    //     every real search request uses): must is a conjunction (all
    //     terms required, each scoring), should only boosts, must_not
    //     filters without scoring; exact tf·(N/df) scoring under
    //     Lucene's stats phases keeps the whole composition on the
    //     DuckDB oracle surface (SegmentedIndex.boolSearch) ---
    "q180_bool_search" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.boolSearch(s, segIndexDir(s, d),
        must = Seq("spark", "data"), should = Seq("vector"),
        mustNot = Seq("join"), k = 20)),

    "q165_segmented_search" -> ((s, d) => {
      // probe-only against the STAGED index (segIndexDir) — its
      // standard lifecycle IS the 2-segment + 1-tombstone shape the
      // pinned stats columns assert
      val root = segIndexDir(s, d)
      val (nSeg, nDel, nStat) = SegmentedIndex.stats(root)
      SegmentedIndex.search(s, root, searchTerms, k = 20)
        .withColumn("n_segments", lit(nSeg))
        .withColumn("n_tombstone_segments", lit(nDel))
        .withColumn("n_docs_stat", lit(nStat))
        .orderBy(desc("score"), asc("doc_id"))
    }),

    // --- BM25 over the SEGMENTED index (q156's production scorer ×
    //     q165's segment tier — what an ES shard actually computes):
    //     N/totalLen from the manifest headers and df from the
    //     postings, all still counting the tombstoned docs (Lucene's
    //     pre-merge stats phase), while the ranked hits exclude them;
    //     the exact integer-ratio rank certificate crosses engines
    //     bit-identically (SegmentedIndex.bm25RankAudit) ---
    "q167_segmented_bm25" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.bm25RankAudit(s, segIndexDir(s, d), "data",
        k = 20)),

    // --- fuzzy term search on the SEGMENTED index (q159's
    //     Lucene-AUTO fuzziness against the live index — Lucene's
    //     own two-pass shape: walk the term dictionary with SymSpell
    //     variant blocking, then read ONLY the matched terms'
    //     postings, bucket-pruned now that they're literals): the
    //     dictionary keeps tombstoned docs' terms until merge (so a
    //     match can resolve through them), stats count them, ranked
    //     hits exclude them (SegmentedIndex.fuzzySearch) ---
    "q170_segmented_fuzzy" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.fuzzySearch(s, segIndexDir(s, d),
        Seq("vectro", "cusotmer", "join"), k = 5, maxDist = 2)),

    // --- exact phrase search on the SEGMENTED index (q105's
    //     match_phrase on the LIVE, updatable index — Lucene stores
    //     positions inline in its postings lists, and so does the
    //     segment tier, so one segment family serves term, BM25 and
    //     phrase queries): pruned per-term reads across both
    //     segments, live-docs anti join (a deleted doc's phrase hits
    //     vanish immediately), anchor-count match
    //     (SegmentedIndex.phraseSearch) ---
    "q169_segmented_phrase" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.phraseSearch(s, segIndexDir(s, d),
        Seq("big", "order", "scan"))),

    // --- index SNAPSHOT (ES's repository snapshot, structurally:
    //     copy the manifest-referenced directories, commit the
    //     manifest last by the same atomic rename; INCREMENTAL by
    //     segment immutability — a re-snapshot copies only the new
    //     directories): the first snapshot isolates against the
    //     later delete (the destination is a working index frozen at
    //     its generation), the second carries the delete over at the
    //     cost of ONE directory; copy counts pinned
    //     (SegmentedIndex.snapshot) ---
    "q174_index_snapshot" -> ((s, d) => {
      import graft.operators.SegmentedIndex
      val scratch = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_ss_" + graft.engine.Bucketing.fingerprint8(d) +
          "_" + java.util.UUID.randomUUID().toString.take(8))
      val root = new java.io.File(scratch, "idx").getPath
      val snap = new java.io.File(scratch, "snap").getPath
      // bounded roundtrip corpus (q150's rule) — the mutable source
      // index CLONES the staged pre-delete fixture driver-side
      // (snapshot = bounded file copies, no corpus re-tokenization)
      val dd = docs(s, d).filter(col("doc_id") < 150)
      SegmentedIndex.snapshot(segIndexPreDir(s, d), root)
      val copied1 = SegmentedIndex.snapshot(root, snap)
      SegmentedIndex.delete(s, root,
        dd.filter(col("doc_id") % 37 === 5).select("doc_id"), "d1")
      // the frozen snapshot still serves the PRE-delete results
      val frozen = SegmentedIndex.search(s, snap, searchTerms, k = 20)
        .count()
      val copied2 = SegmentedIndex.snapshot(root, snap)
      SegmentedIndex.search(s, snap, searchTerms, k = 20)
        .withColumn("n_copied_first", lit(copied1.toLong))
        .withColumn("n_copied_incremental", lit(copied2.toLong))
        .withColumn("n_hits_frozen", lit(frozen))
        .orderBy(desc("score"), asc("doc_id"))
    }),

    // --- highlighting from the SEGMENTED index (ES's actual
    //     three-phase flow: QUERY ranks ids from the postings, FETCH
    //     pulls only those documents' STORED FIELDS — the `_source`
    //     this tier now keeps inside each segment, hidden from the
    //     postings scans — and the snippet builder runs over the
    //     fetched rows; the corpus is never read): q153's snippet
    //     semantics over the live docs (SegmentedIndex.highlight) ---
    "q171_segmented_highlight" -> ((s, d) =>
      // probe-only against the STAGED index (segIndexDir)
      SegmentedIndex.highlight(s, segIndexDir(s, d), searchTerms,
        k = 100000, window = 3)),

    // --- document GET from the SEGMENTED index (ES's fetch-by-id
    //     against `_source`): live rows only — a tombstoned id
    //     returns nothing, an upserted id returns the NEW text (the
    //     prefix-scoped tombstone hides the old version's stored
    //     fields too) (SegmentedIndex.fetch) ---
    "q172_segmented_fetch" -> ((s, d) => {
      // mutable CLONE of the staged index — the upsert owns the copy
      val root = segIndexClone(s, d, "sg")
      val dd = docs(s, d).filter(col("doc_id") < 150)
      SegmentedIndex.upsert(s, root,
        dd.filter(col("doc_id") === 1)
          .withColumn("text", concat(col("text"), lit(" updated")))
          .select("doc_id", "text"), "u1")
      SegmentedIndex.fetch(s, root, Seq(1L, 5L, 7L, 42L, 100L))
    }),

    // --- segmented-index UPSERT (ES's update model: delete the old
    //     version, index the new — committed as ONE atomic manifest
    //     write, so readers see old or new versions, never the delete
    //     without the add): changed docs re-index with an extra
    //     'spark' token, brand-new docs append, and the tombstone's
    //     manifest-prefix scope keeps it off the new versions. The
    //     stats phase is pure Lucene: N and df count OLD AND NEW
    //     versions until a merge; hits carry the new tf
    //     (SegmentedIndex.upsert) ---
    "q168_index_upsert" -> ((s, d) => {
      // mutable CLONE of the staged index (its d1 tombstones ride
      // along — the oracle's live set excludes both victim groups,
      // which cannot overlap in this range) — the upsert owns the copy
      val root = segIndexClone(s, d, "su")
      val dd = docs(s, d).filter(col("doc_id") < 150)
      val changed = dd.filter(col("doc_id") % 7 === 3)
        .withColumn("text", concat(col("text"), lit(" spark")))
      val fresh = dd.filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + lit(9000000L))
      SegmentedIndex.upsert(s, root,
        changed.unionByName(fresh).select("doc_id", "text"), "u1")
      val (nSeg, nDel, nStat) = SegmentedIndex.stats(root)
      SegmentedIndex.search(s, root, searchTerms, k = 20)
        .withColumn("n_segments", lit(nSeg))
        .withColumn("n_tombstone_segments", lit(nDel))
        .withColumn("n_docs_stat", lit(nStat))
        .orderBy(desc("score"), asc("doc_id"))
    }),

    // --- segment MERGE (Lucene's compaction, the q165 state machine
    //     one step further): fold both segments into one, APPLY the
    //     tombstones — postings drop AND the corpus statistics
    //     finally shift (N and df now exclude the deleted docs, so
    //     scores change exactly as Lucene's do after a merge); the
    //     fold/apply counts and the post-merge N are pinned
    //     (SegmentedIndex.merge) ---
    "q166_segment_merge" -> ((s, d) => {
      // mutable CLONE of the staged index (same 2-segment +
      // 1-tombstone lifecycle) — the merge owns the copy
      val root = segIndexClone(s, d, "sm")
      val (folded, applied) = SegmentedIndex.merge(s, root)
      val (nSeg, _, nStat) = SegmentedIndex.stats(root)
      SegmentedIndex.search(s, root, searchTerms, k = 20)
        .withColumn("n_folded", lit(folded.toLong))
        .withColumn("n_dels_applied", lit(applied.toLong))
        .withColumn("n_segments", lit(nSeg))
        .withColumn("n_docs_stat", lit(nStat))
        .orderBy(desc("score"), asc("doc_id"))
    }),

    // --- exact phrase query (ES match_phrase analogue): one corpus
    //     tokenize into positional postings, then the single-shuffle
    //     anchor-count match (each posting proposes pos-offset anchors;
    //     an anchor with all k offsets present is an occurrence) ---
    "q105_phrase_search" -> ((s, d) =>
      Search.phraseSearch(docs(s, d), Seq("big", "order", "scan"))),

    // --- the same phrase query in the query-many posture: positional
    //     postings persisted once in the whole-corpus segment
    //     (Search.ensureBm25Index, staged up front by
    //     SparkEntry.stage; built on first probe only when cold),
    //     per-query scan pruned to the phrase terms' buckets — the
    //     corpus is never re-read, and a staged invocation is
    //     probe-only: no tokenize, no write ---
    "q105b_phrase_indexed" -> ((s, d) =>
      SegmentedIndex.phraseSearch(s,
        Search.ensureBm25Index(s, d, docs(s, d)),
        Seq("big", "order", "scan"))),

    // --- repeated-span detection: n-token windows occurring >1 time
    //     corpus-wide — the exact-substring-dedup / memorization
    //     signal; rank by rep_ratio for the templated tail ---
    "q109_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(docs(s, d), n = 5)),

    // --- unigram-LM frequency moments: the log-free perplexity proxy
    //     (mean/min corpus token frequency per doc) ---
    "q110_unigram_lm" -> ((s, d) =>
      TextOps.unigramLmScore(docs(s, d))),

    // --- per-source document cap (the C4/RefinedWeb "at most N pages
    //     per domain" curation rule): keep each source's top-3 docs by
    //     quality. One shuffle keyed by source; the rank window never
    //     sees more than one source's rows per partition ---
    "q106_source_cap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("quality"), asc("doc_id"))
      TextOps.withQuality(docs(s, d))
        .select(col("doc_id"), col("source"), col("quality"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("source", "rn")
    }),

    // --- language ID by stopword-marker counting ---
    "q27_langid" -> ((s, d) =>
      TextOps.withLangId(docs(s, d))
        .select(col("doc_id"), col("pred_lang"), col("score_en"),
          col("score_es"), col("score_fr"), col("score_de"))
        .orderBy("doc_id")),

    // --- quality scoring ---
    "q28_quality" -> ((s, d) =>
      TextOps.withQuality(docs(s, d))
        .select("doc_id", "n_tokens", "n_distinct", "ttr", "stop_ratio",
          "quality")
        .orderBy("doc_id")),

    // --- token counting: whitespace + BPE-ish greedy regex ---
    "q29_tokencount" -> ((s, d) =>
      TextOps.withTokenCounts(docs(s, d))
        .select("doc_id", "n_ws_tokens", "n_subword_tokens")
        .orderBy("doc_id")),

    // --- order-sensitive rolling-hash fingerprint ---
    "q30_fingerprint" -> ((s, d) =>
      TextOps.withFingerprint(docs(s, d))
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")),

    // --- exact dedup: keep/drop decision per doc ---
    "q31_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(docs(s, d))
        .select("doc_id", "group_size", "keep_id", "is_dup")
        .orderBy("doc_id")),

    // --- MinHash + LSH near-dups, exact-verified at 0.8 ---
    "q32_minhash_dedup" -> ((s, d) =>
      Dedup.minhashNearDups(docs(s, d), threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // --- n-gram Jaccard near-dups via inverted-index join ---
    "q33_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), threshold = 0.4)
        .orderBy("doc_a", "doc_b")),

    // --- SimHash near-dups (Hamming <= 3, banded) ---
    "q34_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(docs(s, d), maxHamming = 3)
        .orderBy("doc_a", "doc_b")),

    // --- brute-force cosine top-k (exact ANN baseline) ---
    "q35_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), "vec_id < 10", k = 5)
        .orderBy("q_id", "rank")),

    // --- FILTERED kNN (ES 8's `knn` + `filter` — the production
    //     vector-search shape: "nearest docs WHERE label = 2"):
    //     PRE-filter semantics — the metadata predicate restricts
    //     candidates before ranking, so all k results satisfy it
    //     (post-filtering a plain top-k returns fewer; ES documents
    //     the distinction). The predicate pushes into the corpus
    //     scan; the spec additionally pins the filtered IVF path
    //     (faiss IDSelector shape) against this exact baseline
    //     (Similarity.filteredTopK) ---
    "q220_filtered_knn" -> ((s, d) =>
      Similarity.filteredTopK(emb(s, d), "vec_id < 10", "label = 2",
          k = 5)
        .orderBy("q_id", "rank")),

    // --- LSH-bucketed approximate top-k ---
    "q36_ann_lsh" -> ((s, d) =>
      Similarity.annTopK(emb(s, d), "vec_id < 10", k = 5)
        .orderBy("q_id", "rank")),

    // --- embedding-cosine near-dup pairs (LSH candidates, verified) ---
    "q37_cosine_neardup" -> ((s, d) =>
      Similarity.cosineNearDups(emb(s, d), threshold = 0.3)
        .orderBy("id_a", "id_b")),

    // --- k-NN label vote: majority label among the 10 cosine-nearest
    //     neighbors vs the vector's own label — the label-purity /
    //     embedding-quality audit run after clustering or labeling.
    //     Argmax is ONE aggregate (max of (votes, -label) struct), not
    //     a rank-filter pass; ties break to the smallest label ---
    "q96_knn_label" -> ((s, d) => {
      val e = emb(s, d)
      val knn = Similarity.bruteForceTopK(e, "vec_id < 100", k = 10)
      val nl = e.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))
      // label joins: the knn/pred side is O(queries·k) rows — AQE
      // broadcasts IT, never the corpus-sized label side (unhinted on
      // purpose: a broadcast(labels) hint would OOM at real corpus SF)
      val votes = knn.join(nl, Seq("neighbor_id"))
        .groupBy("q_id", "n_label")
        .agg(count(lit(1)).as("votes"))
      votes
        .groupBy("q_id")
        .agg(max(struct(col("votes"), (-col("n_label")).as("neg_label"),
          col("n_label").as("pl"))).as("m"))
        .select(col("q_id"), col("m.pl").as("pred_label"),
          col("m.votes").as("votes"))
        .join(e.select(col("vec_id").as("q_id"),
          col("label").as("true_label")), Seq("q_id"))
        .withColumn("correct", col("pred_label") === col("true_label"))
        .select("q_id", "pred_label", "votes", "true_label", "correct")
        .orderBy("q_id")
    }),

    // --- ANN recall audit: recall@10 of the LSH-bucketed index vs the
    //     brute-force ground truth, per query — the measure-don't-guess
    //     loop that decides whether an index's bucket/table parameters
    //     are safe to ship. Intersections are id-set counts (exact
    //     integers); the single division is IEEE-identical ---
    "q99_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopK(e, "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"))
      val approx = Similarity.annTopK(e, "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(expr("vec_id < 50")).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("q_id"), col("hits"),
          (col("hits").cast("double") / lit(10).cast("double")).as("recall"))
        .orderBy("q_id")
    }),

    // --- q99's recall audit applied to the IVF path with LEARNED
    //     centroids: kmeansMStep learns the coarse quantizer, each
    //     query ranks by exact cosine within its own cell (nprobe=1),
    //     and recall@10 is measured against brute force — the honest
    //     quality number for the cell-local trade. The measured recall
    //     itself is oracle-checked (both engines learn the SAME
    //     centroids bitwise, so cells and hits agree exactly).
    //     Round 9: the probe side runs against the STAGED cluster-
    //     partitioned index (Similarity.ensureIvfLearnedIndex, built
    //     at ingest via SparkEntry.stage) — centroid learning and
    //     corpus assignment are no longer inside the query path; only
    //     the brute-force ground truth still scans raw embeddings,
    //     because that is what a recall audit measures against ---
    "q129_ivf_recall_learned" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopK(e, "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopKStaged(s, d, emb(s, d),
          "vec_id < 8", "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(expr("vec_id < 50")).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("q_id"), col("hits"),
          (col("hits").cast("double") / lit(10).cast("double")).as("recall"))
        .orderBy("q_id")
    }),

    // --- the IVF recall/cost DIAL, measured: same audit as q129 at
    //     nprobe=2 — each query searches its two nearest cells. The
    //     per-query recall delta vs q129 is the empirical price curve
    //     of the dial (recall can only rise: nprobe=2's candidate set
    //     contains nprobe=1's), and both numbers are cross-engine
    //     exact off the same bitwise-learned centroids ---
    "q132_ivf_nprobe2" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopK(e, "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopKStaged(s, d, emb(s, d),
          "vec_id < 8", "vec_id < 50", k = 10, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(expr("vec_id < 50")).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("q_id"), col("hits"),
          (col("hits").cast("double") / lit(10).cast("double")).as("recall"))
        .orderBy("q_id")
    }),

    // --- incremental IVF index upkeep, oracled: a batch of 20 "new"
    //     vectors (fixture rows with shifted ids — deterministic)
    //     appends into a dedicated staged index by assignment against
    //     the PERSISTED centroids (no rebuild, no corpus scan, O(batch)
    //     cost), then the nprobe=1 probe returns each query's top-10
    //     over base ∪ appended. Appended exact copies surface at
    //     rank 1 with cosine 1.0 for copied queries — the oracle
    //     reproduces the union ranking exactly. Isolated under its own
    //     fixture key so q129/q132's shared index stays append-free ---
    "q140_ivf_append" -> ((s, d) => {
      ivfAppendStage(s, d)
      Similarity.ivfTopKStaged(s, s"$d#append", emb(s, d),
          "vec_id < 8", "vec_id < 50", k = 10)
        .select(col("q_id"), col("neighbor_id"), col("rank"),
          (col("neighbor_id") >= 1000000L).as("is_appended"))
        .orderBy("q_id", "rank")
    }),

    // --- one Lloyd/k-means iteration over the embedding corpus:
    //     broadcast-centroid assignment (E-step) + fixed-point update
    //     statistics (M-step sums) — the embedding-clustering primitive
    //     behind semantic dedup and topic bucketing ---
    "q107_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(emb(s, d), "vec_id < 4")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("bigint(floor(d2 * 1048576.0d))")).as("sum_d2_fx"),
          sum(expr("bigint(floor(v0 * 1048576.0d))")).as("sum_v0_fx"))
        .orderBy("cluster")),

    // --- SemDeDup: semantic near-duplicate pruning — cluster-local
    //     cosine dedup after broadcast-centroid assignment, the
    //     embedding-space sibling of MinHash near-dup (q32). The
    //     corpus-wide all-pairs join never exists: quadratic work is
    //     confined WITHIN a cluster ---
    "q126_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(emb(s, d), "vec_id < 8", threshold = 0.25)
        .orderBy("vec_id")),

    // --- the REAL SemDeDup pipeline, end-to-end: one full Lloyd
    //     iteration (E-step assignment + M-step per-cluster means)
    //     LEARNS the centroids, then semantic dedup prunes within the
    //     learned clusters. Centroid means are bitwise cross-engine
    //     (order-invariant integer per-dim sums, IEEE-exact division
    //     chain — Similarity.kmeansMStep scaladoc), so the second
    //     assignment and the cosine pruning stay hash-exact vs DuckDB.
    //     Still one broadcast row of centroids per assignment pass and
    //     exactly one cluster-keyed corpus shuffle in the prune ---
    "q128_kmeans_semdedup" -> ((s, d) =>
      Similarity.semanticDedupCentroids(emb(s, d),
        Similarity.kmeansMStep(emb(s, d), "vec_id < 8"),
        threshold = 0.25)
        .orderBy("vec_id")),

    // --- Lloyd run to depth 2, oracled end-to-end: round-1 means feed
    //     kmeansMStepFrom for a SECOND M-step, and the final E-step
    //     (kmeansAssignWith) reports per-cluster membership + the
    //     fixed-point objective — the round-over-round feedback loop
    //     the helpers exist for, now hash-exact vs DuckDB (both
    //     engines' round-2 centroids are bitwise identical, so the
    //     final assignment and objective agree exactly). Cost shape:
    //     one corpus scan + one k-row exchange per round, 3 rounds
    //     here (M, M, E) ---
    "q137_kmeans_iter2" -> ((s, d) => {
      val e = emb(s, d)
      val c1 = Similarity.kmeansMStep(e, "vec_id < 8")
      val c2 = Similarity.kmeansMStepFrom(e, c1)
      Similarity.kmeansAssignWith(e, c2)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("bigint(floor(d2 * 1048576.0d))")).as("sum_d2_fx"))
        .orderBy("cluster")
    }),

    // --- context-window chunking (sliding token windows) ---
    "q44_chunk" -> ((s, d) =>
      Pipeline.chunk(docs(s, d), size = 32, stride = 16)
        .orderBy("doc_id", "chunk_id")),

    // --- PII-shaped redaction (digits injected via doc_id so the
    //     rewrite is observable on the all-letters fixture corpus) ---
    "q45_redact" -> ((s, d) =>
      Pipeline.redact(docs(s, d)
          .withColumn("text",
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com id "), col("doc_id"))))
        .select("doc_id", "redacted", "n_redactions")
        .orderBy("doc_id")),

    // --- deterministic content-hash train/val/test split ---
    "q46_split" -> ((s, d) =>
      Pipeline.split(docs(s, d))
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          min("bucket").as("min_bucket"), max("bucket").as("max_bucket"))
        .orderBy("split")),

    // --- systematic content-hash sampling ---
    "q47_sample" -> ((s, d) =>
      Pipeline.systematicSample(docs(s, d), pct = 10)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // --- deterministic size-biased (IPPS/Poisson) sampling with
    //     Horvitz-Thompson weights: p_i ∝ token count, exact-integer
    //     thresholds, content-hash draw — see Pipeline.weightedSample ---
    "q103_weighted_sample" -> ((s, d) =>
      Pipeline.weightedSample(docs(s, d), targetDocs = 100L)
        .select("doc_id", "n_tokens", "thresh", "ht_weight")
        .orderBy("doc_id")),

    // --- deterministic sharded corpus shuffle: the training reader's
    //     global permutation as (shard, within-shard position), pure
    //     function of (salt, doc_id) — one nShards-parallel shuffle,
    //     no RNG, no global sort (Pipeline.shardedShuffle) ---
    "q122_shard_shuffle" -> ((s, d) =>
      Pipeline.shardedShuffle(docs(s, d), nShards = 8)
        .orderBy("doc_id")),

    // --- q122's WRITE half, verified through the filesystem: run
    //     Pipeline.writeShards, read the shard directories back, and
    //     re-derive (shard, shard_pos) from the PHYSICAL row order of
    //     each shard file — input_file_name groups rows by file and
    //     monotonically_increasing_id ascends in scan order within a
    //     file, so shard_pos is the order a trainer streaming the file
    //     would actually see. Hash-exact vs the SAME DuckDB oracle as
    //     q122: the bytes on disk ARE the permutation, not merely a
    //     frame that claims it. (Per-file mid ordering assumes a file
    //     is not split across scan partitions — shard files at any
    //     verification SF sit far below maxPartitionBytes; the write
    //     path itself is SF-independent.) ---
    "q127_shard_writeread" -> ((s, d) => {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_shards_" + graft.engine.Bucketing.fingerprint8(d)).getPath
      Pipeline.writeShards(docs(s, d), dir, nShards = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("_f").orderBy("_mid")
      graft.engine.Pq.read(s, dir)
        .withColumn("_f", input_file_name())
        .withColumn("_mid", monotonically_increasing_id())
        .withColumn("shard_pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("shard_pos"))
        .orderBy("doc_id")
    }),

    // --- small-file compaction oracled through the filesystem: the
    //     documents table is deliberately fragmented into dozens of
    //     KB-scale files, compacted (rewrite + two-rename atomic
    //     swap), and read back — content hash-exact vs the plain
    //     table, with the post-compaction file count pinned as a
    //     column (targetBytes sized so the answer is exactly 1). The
    //     lake-maintenance twin of q127: both verify the BYTES a
    //     maintenance pass leaves behind, not a frame that claims
    //     success. ---
    "q131_compact_roundtrip" -> ((s, d) => {
      // per-invocation working dir: the fragment→compact→read-back
      // roundtrip REWRITES the directory, so two concurrent processes
      // (a bench beside a verify) must not share one — unlike the
      // staged artifacts, this is scratch space, not a cache
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_compact_" + graft.engine.Bucketing.fingerprint8(d) +
          "_" + java.util.UUID.randomUUID().toString.take(8)).getPath
      docs(s, d).repartition(64).write.mode("overwrite").parquet(dir)
      val (before, after) =
        graft.engine.Bucketing.compact(s, dir, targetBytes = 1L << 30)
      s.read.parquet(dir)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("n_files_after", lit(after.toLong))
        .withColumn("defragmented", lit(before > after))
        .orderBy("doc_id")
    }),

    // --- paragraph-granularity dedup with document REASSEMBLY (the
    //     C4/RefinedWeb boilerplate step): a per-source footer
    //     paragraph is planted behind a delimiter — repeated verbatim
    //     across every doc of the source — and paragraphDedup keeps
    //     only each paragraph's first corpus-wide occurrence, then
    //     rebuilds every doc from its survivors. md5 digests shuffle,
    //     never paragraph text (Dedup.paragraphDedup) ---
    "q135_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(
        docs(s, d).select(col("doc_id"),
          concat(col("text"), lit("|follow us on example dot com "),
            col("source")).as("text")),
        delim = "|")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_segs"), col("n_kept"))
        .orderBy("doc_id")),

    // --- exact-substring dedup WITH REMOVAL (Lee et al. ExactSubstr,
    //     the step q109 only counts): a per-source footer planted on
    //     every doc makes corpus-repeated 5-gram spans — each such
    //     span keeps its first (doc_id, pos) occurrence, every other
    //     occurrence's token span is deleted (overlaps union), and
    //     docs reassemble from surviving tokens. Gram digests shuffle,
    //     never gram text (Dedup.exactSubstrDedup) ---
    "q136_substr_dedup" -> ((s, d) =>
      Dedup.exactSubstrDedup(
        docs(s, d).select(col("doc_id"),
          concat(col("text"),
            lit(" shared footer sentence for substring dedup from "),
            col("source")).as("text")),
        n = 5)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_toks"), col("n_removed"))
        .orderBy("doc_id")),

    // --- edit-distance fuzzy join (typo-tolerant title dedup): a
    //     derived titles table (first 8 tokens per doc) plus planted
    //     single-character corruptions; all Levenshtein-≤1 pairs found
    //     via deletion-neighborhood (SymSpell) blocking — digests of
    //     single-deletion variants shuffle, candidate groups are true
    //     near-dup clusters, exact levenshtein verifies. Never an
    //     all-pairs product (Fuzzy.editDistancePairs; the DuckDB twin
    //     IS the all-pairs quadratic, valid only at oracle scale) ---
    "q142_editdist_join" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("title"))
      val typos = base.filter(col("doc_id") % 7 === 3)
        .withColumn("p", (col("doc_id") % 10 + 2).cast("int"))
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          expr("concat(substring(title, 1, p - 1), 'x', " +
            "substring(title, p + 1))").as("title"))
      graft.operators.Fuzzy
        .editDistancePairs(base.unionByName(typos), "doc_id", "title")
        .orderBy("id_a", "id_b")
    }),

    // --- snapshot-at-version reads ("time travel") over a CDC log:
    //     two derived batches (upserts, appends, deletes) on top of
    //     the documents base; versions 1 AND 2 are both reconstructed
    //     from the same log after batch 2 exists — the lakehouse
    //     history contract. Each replay step is the broadcast
    //     anti-join of Pipeline.applyCdc: the base scans, never
    //     shuffles (Pipeline.snapshotAt) ---
    "q143_snapshot_read" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val b1 = base.filter(col("doc_id") % 9 === 1)
          .withColumn("text", concat(col("text"), lit(" v1")))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") < 3)
          .withColumn("doc_id", col("doc_id") + lit(2000000L))
          .withColumn("op", lit("U")))
      val b2 = base.filter(col("doc_id") % 9 === 4)
          .withColumn("text", concat(col("text"), lit(" v2")))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") % 9 === 7)
          .withColumn("op", lit("D")))
      val log = Seq(b1, b2)
      val v1 = Pipeline.snapshotAt(base, log, 1, "doc_id")
        .select(lit(1L).as("version"), col("doc_id"),
          md5(col("text")).as("text_md5"))
      val v2 = Pipeline.snapshotAt(base, log, 2, "doc_id")
        .select(lit(2L).as("version"), col("doc_id"),
          md5(col("text")).as("text_md5"))
      v1.unionByName(v2).orderBy("version", "doc_id")
    }),

    // --- asymmetric containment dedup (quote / subset detection): a
    //     40%-prefix "quote" doc planted for every 50th document; a
    //     pair reports when ≥ 80% of the SMALLER side's distinct
    //     5-gram shingles appear in the other doc — the relation
    //     Jaccard erases (quote vs source: containment 1.0, Jaccard
    //     ≈ 0.4). Candidates via prefix filtering under a global
    //     rarity order (recall-1, rarest-shingle posting lists);
    //     digests shuffle, never shingle text (Fuzzy.containmentPairs;
    //     the DuckDB twin is the exact shared-shingle join) ---
    "q144_containment_dedup" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val quotes = base.filter(col("doc_id") % 50 === 17)
        .withColumn("toks", split(col("text"), " "))
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          expr("concat_ws(' ', slice(toks, 1, " +
            "cast((2 * size(toks) + 4) div 5 as int)))").as("text"))
      graft.operators.Fuzzy
        .containmentPairs(base.unionByName(quotes), n = 5,
          tauNum = 4, tauDen = 5)
        .orderBy("a_id", "b_id")
    }),

    // --- product quantization recall audit (q99's methodology on the
    //     COMPRESSION lever): per-subspace codebooks learned with the
    //     fixed-point Lloyd M-step, corpus encoded to m codeword ids
    //     (~64x smaller than the float vectors), queries scored by
    //     asymmetric distance computation — m table lookups summed in
    //     FIXED order — and recall@10 measured against exact L2
    //     ground truth. The recall number itself is cross-engine
    //     exact (Similarity.pqAdcTopK / bruteForceTopKL2) ---
    "q145_pq_recall" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopKL2(e, "vec_id < 20", 10)
        .select("q_id", "neighbor_id")
      val approx = Similarity.pqAdcTopK(e, "vec_id < 20", 10,
          m = 16, ksub = 16)
        .select("q_id", "neighbor_id")
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / lit(10.0d))
            .as("recall"))
        .orderBy("q_id")
    }),

    // --- IVF-PQ, the composed faiss shape (q129's staged coarse
    //     quantizer × q145's compression): probe nprobe=2 learned
    //     cells via a planning-time partition filter on the STAGED
    //     cluster-partitioned CODES, score candidates by fixed-order
    //     ADC table lookups — no raw-vector arithmetic per candidate,
    //     no corpus assignment in the query path; recall@10 audited
    //     against exact L2 (Similarity.ivfPqTopKStaged) ---
    "q146_ivfpq_recall" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopKL2(e, "vec_id < 20", 10)
        .select("q_id", "neighbor_id")
      val approx = Similarity.ivfPqTopKStaged(s, d, e, "vec_id < 8",
          "vec_id < 20", 10, nprobe = 2)
        .select("q_id", "neighbor_id")
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / lit(10.0d))
            .as("recall"))
        .orderBy("q_id")
    }),

    // --- incremental PQ-code upkeep (q140's append contract on the
    //     COMPRESSED tier): the PQ index stages from the BASE corpus
    //     (books + codes), then a batch of 20 "new" vectors (fixture
    //     rows with ids shifted by 1e6) appends BOTH halves — raw
    //     vectors into the IVF index (ivfAppendOnce) and codes
    //     encoded against the FROZEN published codebooks into an
    //     atomic seg= subtree of the codes directory (pqAppendOnce).
    //     The IVF-PQ probe then serves top-10 over base ∪ appended
    //     with appended copies surfacing (is_appended pins them) —
    //     the oracle re-derives the whole chain with books learned
    //     from the base only and codes over the union, so ranks are
    //     cross-engine exact. Before pqAppendOnce existed, ADC
    //     serving could not see appended vectors until a full PQ
    //     re-stage. Isolated fixture key: q146/q154's shared index
    //     stays append-free ---
    "q175_pq_append" -> ((s, d) => {
      val fk = s"$d#pqappend"
      // ordering contract: PQ stages off the BASE index, then the
      // appends land on both tiers (idempotent per batchKey)
      Similarity.ensurePqIndex(s, fk, emb(s, d), "vec_id < 8")
      def batch = emb(s, d).filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Similarity.ivfAppendOnce(s, fk, emb(s, d), "vec_id < 8",
        batch, batchKey = "pq-batch1")
      Similarity.pqAppendOnce(s, fk, emb(s, d), "vec_id < 8",
        batch, batchKey = "pq-batch1")
      Similarity.ivfPqTopKStaged(s, fk, emb(s, d), "vec_id < 8",
          "vec_id < 20", k = 10, nprobe = 2)
        .select(col("q_id"), col("neighbor_id"), col("rank"),
          (col("neighbor_id") >= 1000000L).as("is_appended"))
        .orderBy("q_id", "rank")
    }),

    // --- incremental aggregate maintenance (materialized-view upkeep,
    //     the query-side dividend of the CDC log): a per-source
    //     (count, sum_chars) summary absorbs one batch of
    //     upserts/appends/deletes as a DELTA — old rows of affected
    //     keys subtract, upserts add — instead of re-aggregating the
    //     corpus; result must equal the from-scratch aggregation of
    //     the merged table (Pipeline.maintainAgg) ---
    "q147_incr_agg" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      val batch = base.filter(col("doc_id") % 11 === 3)
          .withColumn("n_chars", col("n_chars") + lit(1000L))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") < 4)
          .withColumn("doc_id", col("doc_id") + lit(5000000L))
          .withColumn("op", lit("U")))
        .unionByName(base.filter(col("doc_id") % 11 === 7)
          .withColumn("op", lit("D")))
      val oldAgg = base.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
      Pipeline.maintainAgg(oldAgg, base, batch, "doc_id", "source",
          "n_chars")
        .orderBy("source")
    }),

    // --- maintained summary over a CDC log (q143's log × q147's
    //     maintenance, one epoch at a time through
    //     Pipeline.absorbSummaryBatch): two CDC batches land as log
    //     segments AND advance a versioned (count, sum) summary; the
    //     final summary must equal the from-scratch aggregation of the
    //     fully-replayed log, emitted as a literal-TRUE certificate
    //     beside the exact counts. At 100 TB the summary advances in
    //     O(batch) per epoch — the corpus re-aggregation the
    //     certificate compares against is the check, not the
    //     maintenance path ---
    "q158_summary_log" -> ((s, d) => {
      import graft.operators.Pipeline
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      // probe-only against the STAGED chain (summaryChainDirs):
      // version 1 of the shared 3-epoch store IS the 2-epoch summary
      // this entry always pinned — reading it through the version
      // parameter exercises the store's time travel on the way
      val (logDir, sumDir, _, _) = summaryChainDirs(s, d)
      val replayed = Pipeline.replayLog(s, base, logDir, "doc_id",
          version = 2)
        .groupBy("source")
        .agg(count(lit(1)).as("rn"), sum("n_chars").as("rs"))
      Pipeline.readSummary(s, sumDir, version = 1L)
        .join(replayed, "source")
        .select(col("source"), col("n"), col("s"),
          (col("n") === col("rn") && col("s") === col("rs"))
            .as("matches_replay"))
        .orderBy("source")
    }),

    // --- CDC log REBASE (the checkpoint lever q143's scaladoc
    //     promises): two change batches land as log segments, the log
    //     re-bases — snapshot materialized as the new base via the
    //     two-rename swap, folded segments retired — and a THIRD
    //     batch lands after it. The final snapshot reads checkpoint +
    //     ONE live segment instead of a three-deep replay chain, yet
    //     must hash-match the from-scratch three-batch chain; the
    //     fold count and live-segment count ride as oracle columns
    //     (Pipeline.rebaseLog / snapshotOf). At 100 TB this is what
    //     bounds replay lineage — the one full-table write amortizes
    //     over every batch it retires ---
    "q161_log_rebase" -> ((s, d) => {
      import graft.operators.Pipeline
      val base = docs(s, d).select("doc_id", "text")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_rb_" + graft.engine.Bucketing.fingerprint8(d) +
          "_" + java.util.UUID.randomUUID().toString.take(8)).getPath
      def seg(df: org.apache.spark.sql.DataFrame, e: Int): Unit =
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$root/log/batch=$e")
      seg(base.filter(col("doc_id") % 9 === 1)
          .withColumn("text", concat(col("text"), lit(" v1")))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") < 3)
          .withColumn("doc_id", col("doc_id") + lit(2000000L))
          .withColumn("op", lit("U"))), 0)
      seg(base.filter(col("doc_id") % 9 === 4)
          .withColumn("text", concat(col("text"), lit(" v2")))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") % 9 === 7)
          .withColumn("op", lit("D"))), 1)
      val folded = Pipeline.rebaseLog(s, base, root, "doc_id")
      seg(base.filter(col("doc_id") % 9 === 1)
          .withColumn("op", lit("D"))
        .unionByName(base.filter(col("doc_id") < 2)
          .withColumn("doc_id", col("doc_id") + lit(3000000L))
          .withColumn("op", lit("U"))), 2)
      val live = Option(new java.io.File(s"$root/log").listFiles())
        .toSeq.flatten.count(_.getName.startsWith("batch="))
      Pipeline.snapshotOf(s, base, root, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .withColumn("n_folded", lit(folded.toLong))
        .withColumn("n_live_segments", lit(live.toLong))
        .orderBy("doc_id")
    }),

    // --- POINT LOOKUP into the bucketed view store (the serving
    //     read the layout exists for): two epochs advance the
    //     versioned summary, then two groups' rows are fetched by
    //     hashing the group literals to their buckets and reading
    //     ONLY those bucket directories — O(|groups| · bucket size),
    //     never the view; must equal the replayed-log aggregation
    //     filtered to the same groups (Pipeline.readSummaryGroups) ---
    "q177_summary_lookup" -> ((s, d) => {
      import graft.operators.Pipeline
      // probe-only against the STAGED chain: the point lookup reads
      // version 1 (the 2-epoch view this entry always pinned) — the
      // version-pinned bucket read is ES's preference-pinned GET
      val (_, sumDir, _, _) = summaryChainDirs(s, d)
      Pipeline.readSummaryGroups(s, sumDir, "source",
          Seq("src3", "src17"), version = 1L)
        .orderBy("source")
    }),

    // --- top-k view maintenance under CDC (the NON-ABELIAN
    //     materialized view): per-source top-3 documents by n_chars
    //     absorbs one batch of upserts/appends/deletes by re-reading
    //     ONLY the touched groups (a demoted member's replacement was
    //     never materialized — min/max/top-k maintenance needs the
    //     base, the honest production contract); untouched groups'
    //     view rows pass through. Must equal the from-scratch top-3
    //     of the merged table (Pipeline.maintainTopK) ---
    "q162_topk_view" -> ((s, d) => {
      import graft.operators.Pipeline
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      val batch = base.filter(col("doc_id") % 11 === 3)
          .withColumn("n_chars", col("n_chars") + lit(1000L))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("doc_id") < 4)
          .withColumn("doc_id", col("doc_id") + lit(5000000L))
          .withColumn("op", lit("U")))
        .unionByName(base.filter(col("doc_id") % 11 === 7)
          .withColumn("op", lit("D")))
      Pipeline.maintainTopK(
        Pipeline.topKView(base, "doc_id", "source", "n_chars", 3),
        base, batch, "doc_id", "source", "n_chars", 3)
        .orderBy("source", "rank")
    }),

    // --- maintained NON-ABELIAN view over a CDC log (q162's top-k
    //     maintenance × q143's log, one epoch at a time through
    //     Pipeline.absorbTopKBatch): two CDC batches land as log
    //     segments AND advance a versioned per-source top-3 view;
    //     the final view must equal the from-scratch top-3 of the
    //     fully-replayed log, certificate literal-TRUE ---
    "q173_topk_log" -> ((s, d) => {
      import graft.operators.Pipeline
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      // probe-only against the STAGED chain's 2-epoch top-k tier
      val (_, _, logDir, viewDir) = summaryChainDirs(s, d)
      val recomputed = Pipeline.topKView(
        Pipeline.replayLog(s, base, logDir, "doc_id"),
        "doc_id", "source", "n_chars", 3)
        .select(col("source").as("r_source"), col("doc_id").as("r_doc"),
          col("n_chars").as("r_n"), col("rank").as("r_rank"))
      Pipeline.readSummary(s, viewDir)
        .join(recomputed,
          col("source") === col("r_source") && col("rank") === col("r_rank"))
        .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
          (col("doc_id") === col("r_doc") && col("n_chars") === col("r_n"))
            .as("matches_replay"))
        .orderBy("source", "rank")
    }),

    // --- summary-version RETENTION (the Delta VACUUM of the
    //     maintained-view tier — closes the maintained-summary
    //     loop's last unbounded-growth path): three epochs advance
    //     the versioned summary, then pruneSummaries(keepLast=1)
    //     reclaims the two superseded versions; the surviving latest
    //     version must STILL equal the from-scratch aggregation of
    //     the fully-replayed log (retention trades time travel for
    //     space, never correctness), with the pruned/left counts
    //     pinned as oracle columns (Pipeline.pruneSummaries) ---
    "q163_summary_retention" -> ((s, d) => {
      import graft.operators.Pipeline
      val base = docs(s, d).select("doc_id", "source", "n_chars")
      // the prune MUTATES, so it runs on a per-invocation driver-side
      // CLONE of the staged 3-epoch store (copying the bounded bucket
      // dirs is far cheaper than re-running three absorbs); the log
      // is read-only and shared
      val (logDir, stagedSum, _, _) = summaryChainDirs(s, d)
      val sumDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_sr_" + graft.engine.Bucketing.fingerprint8(d) +
          "_" + java.util.UUID.randomUUID().toString.take(8)).getPath
      copyDirTree(new java.io.File(stagedSum), new java.io.File(sumDir))
      val pruned = Pipeline.pruneSummaries(sumDir, keepLast = 1)
      val left = Pipeline.summaryVersions(sumDir).size
      val replayed = Pipeline.replayLog(s, base, logDir, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("rn"), sum("n_chars").as("rs"))
      Pipeline.readSummary(s, sumDir)
        .join(replayed, "source")
        .select(col("source"), col("n"), col("s"),
          (col("n") === col("rn") && col("s") === col("rs"))
            .as("matches_replay"))
        .withColumn("n_pruned", lit(pruned.toLong))
        .withColumn("n_versions_left", lit(left.toLong))
        .orderBy("source")
    }),

    // --- two-stage IVF-PQ serving (the production shape): ADC over
    //     the compressed cell-pruned index produces a 50-candidate
    //     shortlist per query, then ONLY those ids' exact vectors are
    //     fetched (pushed IN filter on the staged index) and re-ranked
    //     by exact L2 — compression decides WHO survives, never the
    //     final order (Similarity.ivfPqRerankTopK) ---
    "q154_ivfpq_rerank" -> ((s, d) => {
      val e = emb(s, d)
      val exact = Similarity.bruteForceTopKL2(e, "vec_id < 20", 10)
        .select("q_id", "neighbor_id")
      val approx = Similarity.ivfPqRerankTopK(s, d, e, "vec_id < 8",
          "vec_id < 20", 10, shortlist = 50, nprobe = 2)
        .select("q_id", "neighbor_id")
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / lit(10.0d))
            .as("recall"))
        .orderBy("q_id")
    }),

    // --- hive-partitioned layout, oracled: documents staged ONCE
    //     partitionBy(lang); an equality predicate on the partition
    //     column prunes whole directories at PLANNING time
    //     (PartitionFilters in the scan — before any file or footer is
    //     read; PlanSpec asserts it). The third layout lever next to
    //     bucketing (q62) and z-order (q121); hash-exactness vs the
    //     plain table proves the partitioned copy is faithful ---
    "q133_partition_prune" -> ((s, d) => {
      val dir = graft.engine.Bucketing.ensurePartitioned(s, d,
        docs(s, d), Seq("lang"), "docs")
      graft.engine.Pq.read(s, dir)
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // --- the q133 × q121 COMPOSITION — hive partitions for coarse
    //     planning-time pruning, z-order INSIDE each partition for
    //     fine footer-stats skipping: documents staged once
    //     partitionBy(lang) with each lang directory z-ordered on
    //     (n_chars, doc_id). A lang-equality + two-range predicate
    //     prunes directories first, then skips files within the
    //     survivor — the production lakehouse layout (PlanSpec asserts
    //     both levers); hash-exactness vs the plain table proves the
    //     composed re-layout faithful ---
    "q138_part_zorder" -> ((s, d) => {
      val dir = graft.engine.Bucketing.ensurePartitionedZordered(s, d,
        docs(s, d), "lang", Seq("n_chars", "doc_id"), "docs")
      // corner-anchored ranges: a z-curve's file bounding boxes are
      // quadrants, so a low-corner rectangle excludes whole files —
      // mid-range rectangles intersect every quadrant and skip nothing
      graft.engine.Pq.read(s, dir)
        .filter(col("lang") === "en" &&
          col("n_chars").between(50, 150) &&
          col("doc_id").between(0, 150))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // --- merge/upsert (the CDC primitive): updates replace same-key
    //     base rows, new keys append — base anti-joins the update
    //     KEYS (broadcast under the usual updates ≪ base asymmetry,
    //     so the corpus never shuffles), updates union in. Update set
    //     derived deterministically from the fixture: every 10th doc
    //     rewritten, five new docs appended ---
    "q134_merge_upsert" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text", "lang", "source")
      val updates = base.filter(col("doc_id") % 10 === 0)
          .withColumn("text", upper(col("text")))
        .unionByName(
          base.filter(col("doc_id") < 5)
            .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      Pipeline.mergeUpsert(base, updates, "doc_id")
        .orderBy("doc_id")
    }),

    // --- q48's scale twin: benchmark decontamination in the broadcast
    //     posture. Eval sets are MBs against a 100 TB corpus, so the
    //     benchmark's gram digests BROADCAST and the corpus is scanned
    //     exactly once with a map-side probe — no shuffle keyed on
    //     grams (q48 shuffles both sides; right for comparable splits,
    //     wrong when one side is 10^6× smaller). Digest = md5(gram):
    //     16-byte keys move, never gram text (Dedup.decontaminate) ---
    "q123_decontaminate" -> ((s, d) => {
      val ds = docs(s, d)
      Dedup.decontaminate(
        ds.filter(col("source") =!= "src0").select("doc_id", "text"),
        ds.filter(col("source") === "src0").select("doc_id", "text"),
        n = 4)
    }),

    // --- PII scrub audit: redact emails / SSN-shaped ids / E.164
    //     phones / IPv4s and count what was removed. The corpus text
    //     is clean by construction, so each row deterministically
    //     derives its PII load from doc_id (same expressions in the
    //     DuckDB twin) — the check is that two engines' regex dialects
    //     agree byte-for-byte on the scrubbed output (md5) and the
    //     audit counts. Per-row codegen'd expression chain: no
    //     shuffle, no UDF (TextOps.scrubPii / piiCounts) ---
    "q124_pii_scrub" -> ((s, d) => {
      val idStr = col("doc_id").cast("string")
      val base = docs(s, d).select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), idStr,
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.com call +1"),
        lpad(((col("doc_id") * 7919) % 10000000).cast("string"), 7, "0"),
        lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 31) % 256).cast("string"), lit(".1"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" cc ops-"), (col("doc_id") % 5).cast("string"),
            lit("@ex.io"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" via 192.168."), (col("doc_id") % 100).cast("string"),
            lit(".254"))).otherwise(lit(""))).as("pii_text"))
      val counted = TextOps.piiCounts(col("pii_text"))
        .foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) }
      counted
        .withColumn("scrubbed", TextOps.scrubPii(col("pii_text")))
        .select(col("doc_id"),
          col("n_emails"), col("n_ids"), col("n_phones"), col("n_ips"),
          md5(col("scrubbed")).as("scrub_md5"),
          (length(col("pii_text")) - length(col("scrubbed")))
            .cast("long").as("len_delta"))
        .orderBy("doc_id")
    }),

    // --- train/test contamination via n-gram overlap ---
    "q48_contamination" -> ((s, d) => {
      val withBucket = Pipeline.split(docs(s, d))
      val train = withBucket.filter(col("split") === "train")
        .select("doc_id", "text")
      val test = withBucket.filter(col("split") === "test")
        .select("doc_id", "text")
      Pipeline.contamination(train, test, n = 8)
    }),

    // --- text normalization: suffix-stripping stem + vocab effect ---
    "q59_normalize" -> ((s, d) =>
      docs(s, d)
        .withColumn("toks", TextOps.tokens("text"))
        .withColumn("stems", expr(
          "transform(toks, t -> regexp_replace(t, '(ing|ed|es|s)$', ''))"))
        .select(col("doc_id"),
          expr("bigint(size(array_distinct(toks)))").as("vocab_raw"),
          expr("bigint(size(array_distinct(stems)))").as("vocab_stemmed"),
          expr("concat_ws(' ', slice(stems, 1, 8))").as("stem_head"))
        .orderBy("doc_id")),

    // --- embedding L2 normalization (unit vectors). The array output
    //     is serialized for the oracle diff: both engines compute the
    //     same IEEE double chain (fixed-order fold → sqrt → div), so
    //     scaling by 2^20 (exact) + floor + join is bit-deterministic. ---
    "q60_normvec" -> ((s, d) =>
      graft.operators.Similarity.withNorm(emb(s, d))
        .filter(col("vec_id") < 100)
        .withColumn("unit", expr("transform(dvec, x -> x / norm)"))
        .select(col("vec_id"), col("norm"),
          expr("concat_ws('|', transform(slice(unit, 1, 8), " +
            "x -> bigint(floor(x * 1048576.0d))))").as("unit_head8"))
        .orderBy("vec_id")),

    // --- int8 embedding quantization (the ANN storage lever: 4x
    //     smaller vectors, order-independent exact integer dots) ---
    "q64_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(emb(s, d))
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          expr("bigint(floor(qscale * 1048576.0d))").as("qscale_fx"),
          expr("concat_ws('|', transform(slice(qvec, 1, 8), x -> bigint(x)))")
            .as("q_head8"),
          expr("bigint(aggregate(qvec, cast(0 as double), (a, x) -> a + x))")
            .as("q_sum"),
          expr("bigint(array_min(qvec))").as("q_min"),
          expr("bigint(array_max(qvec))").as("q_max"))
        .orderBy("vec_id")),

    // --- brute-force top-k over the quantized vectors: integer inner
    //     products (exact in any order), one float div at the end ---
    "q67_ann_int8" -> ((s, d) =>
      Similarity.int8TopK(emb(s, d), "vec_id < 10", k = 5)
        .orderBy("q_id", "rank")),

    // --- per-language stratified sampling (data-mixture control) ---
    "q65_stratified_sample" -> ((s, d) =>
      Pipeline.stratifiedSample(docs(s, d),
          rates = Map("en" -> 5, "zh" -> 30), defaultPct = 15)
        .select("doc_id", "lang", "bucket", "keep_rate")
        .orderBy("doc_id")),

    // --- tokenizer vocabulary construction: top-100 subwords ---
    "q66_subword_vocab" -> ((s, d) =>
      TextOps.subwordVocab(docs(s, d), k = 100)),

    // --- multimodal byte-level plumbing over a binary payload column ---
    "q38_media_bytes" -> ((s, d) =>
      Multimodal.withByteStats(
        docs(s, d).withColumn("payload", col("text").cast("binary")))
        .withColumn("first_byte", expr("bigint(ascii(substring(text, 1, 1)))"))
        .select("doc_id", "n_bytes", "digest", "head_hex", "first_byte")
        .orderBy("doc_id")),

    // --- sequence packing: per-language token stream cut into
    //     256-token training windows ---
    "q80_packing" -> ((s, d) =>
      Pipeline.packSequences(docs(s, d), capacity = 256)
        .select("doc_id", "lang", "n_tokens", "cum_tokens", "window_id",
          "window_offset")
        .orderBy("doc_id")),

    // --- duplicate-cluster resolution: MinHash pairs → connected
    //     components → one canonical doc per CLUSTER (not per pair).
    //     Pairs come through the content-addressed stage so queries
    //     composing on the pair set share one corpus pass. ---
    "q79_dup_clusters" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.minhashNearDupsShared(dd, threshold = 0.8)
      Dedup.dupClusters(dd.select("doc_id"), pairs)
        .select("doc_id", "cluster", "is_canonical")
        .orderBy("doc_id")
    }),

    // --- canonical selection per dup cluster by QUALITY (not min id):
    //     clustering + quality scoring composed — the survivor is the
    //     highest-quality member, ties to the lowest doc_id ---
    "q83_cluster_canonical" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.minhashNearDupsShared(dd, threshold = 0.8)
      val clusters = Dedup.dupClusters(dd.select("doc_id"), pairs)
      val quality = TextOps.withQuality(dd).select("doc_id", "quality")
      clusters.join(quality, "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("quality"), (-col("doc_id")).as("neg_id")))
            .as("best"))
        .select(col("cluster"), col("n_docs"),
          (-col("best.neg_id")).as("best_doc"),
          col("best.quality").as("best_quality"))
        .orderBy("cluster")
    }),

    // --- incremental dedup: a 20% "new batch" (doc_id % 5 = 4) against
    //     the standing corpus — batch×(corpus ∪ batch) LSH join, never
    //     corpus×corpus ---
    "q84_incremental_dedup" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.incrementalNearDups(
          batch = dd.filter(col("doc_id") % 5 === 4),
          corpus = dd.filter(col("doc_id") % 5 =!= 4),
          threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }),

    // --- corpus-frequency boilerplate scoring: shingles in >= 3 docs
    //     are boilerplate; per-doc ratio of boilerplate shingles ---
    "q85_boilerplate" -> ((s, d) =>
      Dedup.boilerplate(docs(s, d), minDocs = 3L)
        .orderBy("doc_id")),

    // --- data-mixture planning: the largest token budget servable at
    //     target language shares, and per-language keep rates ---
    "q90_mixture_plan" -> ((s, d) =>
      Pipeline.mixturePlan(docs(s, d),
          Seq("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2))
        .orderBy("lang")),

    // --- the composed corpus-prep pipeline: exact dedup → quality
    //     gate → content-hash split → per-(split, lang) data-mixture
    //     report. One plan, four operators, zero driver round-trips —
    //     the shape a real training-data build runs nightly. ---
    "q87_corpus_prep" -> ((s, d) => {
      val dd = docs(s, d)
      val kept = Dedup.exactDedup(dd).filter(!col("is_dup"))
      val scored = TextOps.withQuality(kept).filter(col("quality") >= 0.5)
      Pipeline.split(scored)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          min("quality").as("min_quality"))
        .orderBy("split", "lang")
    }),

    // --- repetition quality signals (Gopher/C4 rule family) ---
    "q78_repetition" -> ((s, d) =>
      TextOps.withRepetition(docs(s, d))
        .select("doc_id", "n_tokens", "n_dup_bigrams", "dup_bigram_ratio",
          "top_tok_count", "top_tok_ratio")
        .orderBy("doc_id")),

    // --- multimodal resize (stub codec: every 2nd byte survives; the
    //     per-partition binary transform is the real plumbing) ---
    "q86_resize" -> ((s, d) =>
      Multimodal.resizeStub(
          docs(s, d).select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("payload")),
          factor = 2)
        .select(col("media_id"), col("orig_bytes"),
          expr("bigint(octet_length(payload))").as("resized_bytes"),
          expr("hex(substring(payload, 1, 8))").as("head_hex"))
        .orderBy("media_id")),

    // --- multimodal frame sampling: every 2nd 64-byte block of the
    //     payload stands in for a decoded video frame (stub codec —
    //     the exploded row shape is the real, tested plumbing) ---
    "q74_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          docs(s, d).select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("payload")),
          blockSize = 64, stride = 2)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          expr("bigint(octet_length(frame_bytes))").as("n_frame_bytes"),
          expr("hex(substring(frame_bytes, 1, 8))").as("head_hex"))
        .orderBy("media_id", "frame_no"))
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles. Fragments mirror TextOps/Dedup/Similarity arithmetic
  // exactly; DuckDB lambda indices are 1-based where Spark's are 0-based
  // (adjusted where marked).
  // ---------------------------------------------------------------------

  /** charHash(s) — portable char-polynomial hash (TextOps.charHashExpr). */
  private def dkCharHash(s: String): String =
    s"list_reduce([0::BIGINT] || list_transform(string_split($s, ''), " +
      s"c -> ascii(c)::BIGINT), (h, c) -> (h * 31 + c) % ${TextOps.HashP})"

  /** perm_i(v) — hash family member (TextOps.permHashExpr). */
  private def dkPerm(v: String, i: String): String =
    s"(($v * ((2654435761 * ($i + 1)) % ${TextOps.PermP}) + " +
      s"((2246822519 * ($i + 1)) % ${TextOps.PermP})) % ${TextOps.PermP})"

  /** Distinct word-3-gram shingles of `toks` (TextOps.shingleExpr). */
  private val dkShingles =
    "CASE WHEN len(toks) >= 3 THEN list_distinct(" +
      "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
      "for i in range(1, len(toks) - 1)]) ELSE [] END"

  private val dkSh =
    s"""sh AS (SELECT doc_id, $dkShingles AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))"""
      .stripMargin

  /** Left-fold dot product of two double lists (Similarity cos). */
  private def dkDot(a: String, b: String): String =
    s"list_reduce([0.0::DOUBLE] || list_transform(list_zip($a, $b), " +
      "p -> p[1] * p[2]), (acc, x) -> acc + x)"

  /** vec + L2 norm CTE over embeddings (Similarity.withNorm). */
  private val dkNormed =
    """normed AS (SELECT vec_id,
      |  list_transform(embedding, x -> x::DOUBLE) AS v,
      |  sqrt(list_reduce([0.0::DOUBLE] || list_transform(
      |    list_transform(embedding, x -> x::DOUBLE), x -> x * x),
      |    (acc, x) -> acc + x)) AS nrm
      | FROM embeddings)""".stripMargin

  /** Hyperplane dot for LSH table t, bit j (Similarity.planeExpr);
    * DuckDB k is 1-based → (k-1)+3 = k+2 matches Spark's 0-based k+3.
    */
  private def dkPlaneDot(tj: String): String =
    s"list_reduce([0.0::DOUBLE] || list_transform(v, (x, k) -> " +
      s"x * ((7 + 31 * ($tj) * (k + 2)) % 97 - 48)::DOUBLE), " +
      "(acc, x) -> acc + x)"

  /** LSH bucket list for `tables` tables of `nBits` sign bits. */
  private def dkBuckets(tables: Int, nBits: Int): String = {
    val per = (0 until tables).map { t =>
      val bits = (0 until nBits).map { j =>
        s"CASE WHEN ${dkPlaneDot(s"${t * 8 + j + 1}")} >= 0.0 THEN 1::BIGINT ELSE 0::BIGINT END"
      }.mkString(", ")
      s"list_reduce([0::BIGINT, $bits], (acc, x) -> acc * 2 + x)"
    }.mkString(", ")
    s"[$per]"
  }

  private val enMarkers = TextOps.langMarkers.head._2
    .map(w => s"'$w'").mkString(", ")

  // Positional postings (DuckDB list index is 1-based -> pos = i - 1
  // matches Spark's 0-based posexplode); the 3-term phrase is two
  // +offset self-joins anchored on the first term. Shared by q105
  // (ad-hoc) and q105b (persisted bucketed index) — both must produce
  // the identical result.
  private val phraseOracle: String =
    """WITH tp AS (SELECT doc_id, z[1] AS term, z[2] - 1 AS pos
      |  FROM (SELECT doc_id, unnest(list_zip(toks,
      |          list_transform(toks, (x, i) -> i::BIGINT))) AS z
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |              FROM documents)))
      |SELECT a.doc_id, count(*) AS n_occurrences,
      |  CAST(min(a.pos) AS BIGINT) AS first_pos
      |FROM tp a
      |JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |         AND b.term = 'order'
      |JOIN tp c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
      |         AND c.term = 'scan'
      |WHERE a.term = 'big'
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  /** Shared DuckDB CTE chain of the IVF-PQ oracles (q146/q154):
    * q129's learned-coarse-quantizer chain composed with q145's PQ
    * chain, ending at the per-(query, candidate) fixed-order ADC
    * sums (`summed`) plus the probe lists (`qp`).
    */
  /** The staged IVF-PQ derivation up to the per-query distance tables
    * (`dt`) — shared by the q146/q154 serving oracles and q175's
    * append variant, which swaps in union-corpus candidates/codes. */
  private def ivfPqCoreCtes: String =
    s"""ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | d1 AS (SELECT nv.vec_id, c1n.c_id,
         |   nv.n2 + c1n.cn2 - 2.0 * ${dkDot("nv.v", "c1n.cv")} AS d2
         |  FROM nv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | cellasg AS (SELECT vec_id, c_id AS cluster FROM a1
         |  WHERE rn = 1),
         | qp AS (SELECT vec_id AS q_id, c_id AS cluster FROM a1
         |  WHERE vec_id < 20 AND rn <= 2),
         | subn AS (SELECT vec_id, jj.j AS j,
         |   v[jj.j*4+1 : jj.j*4+4] AS sv,
         |   ${dkDot("v[jj.j*4+1 : jj.j*4+4]",
                     "v[jj.j*4+1 : jj.j*4+4]")} AS sn2
         |  FROM ev CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj),
         | seeds AS (SELECT j, vec_id AS c_id, sv AS cv, sn2 AS cn2
         |  FROM subn WHERE vec_id < 16),
         | pa AS (SELECT s.vec_id, s.j, c.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.j
         |    ORDER BY s.sn2 + c.cn2 - 2.0 * ${dkDot("s.sv", "c.cv")},
         |      c.c_id) AS rn
         |  FROM subn s JOIN seeds c ON s.j = c.j),
         | pasg AS (SELECT s.vec_id, s.j, a.c_id AS cluster, s.sv
         |  FROM subn s JOIN pa a
         |    ON s.vec_id = a.vec_id AND s.j = a.j AND a.rn = 1),
         | pnct AS (SELECT j, cluster, count(*) AS n FROM pasg
         |  GROUP BY j, cluster),
         | pexf AS (SELECT j, cluster, idx.i AS i,
         |   CAST(floor(sv[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM pasg CROSS JOIN (SELECT unnest(range(1, 5)) AS i) idx),
         | psums AS (SELECT j, cluster, i, sum(fx) AS sfx FROM pexf
         |  GROUP BY j, cluster, i),
         | pbooks0 AS (SELECT s.j, s.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM psums s JOIN pnct t ON s.j = t.j AND s.cluster = t.cluster
         |  GROUP BY s.j, s.cluster),
         | pbooks AS (SELECT j, c_id, cv, ${dkDot("cv", "cv")} AS cn2
         |  FROM pbooks0),
         | pe0 AS (SELECT s.vec_id, s.j, b.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.j
         |    ORDER BY s.sn2 + b.cn2 - 2.0 * ${dkDot("s.sv", "b.cv")},
         |      b.c_id) AS rn
         |  FROM subn s JOIN pbooks b ON s.j = b.j),
         | codes AS (SELECT vec_id, j, c_id AS code FROM pe0 WHERE rn = 1),
         | dt AS (SELECT q.vec_id AS q_id, q.j, b.c_id,
         |   q.sn2 + b.cn2 - 2.0 * ${dkDot("q.sv", "b.cv")} AS d
         |  FROM subn q JOIN pbooks b ON q.j = b.j WHERE q.vec_id < 20)"""
      .stripMargin

  private def ivfPqCtes: String =
    s"""$ivfPqCoreCtes,
       | cand AS (SELECT p.q_id, c.vec_id
       |  FROM cellasg c JOIN qp p ON c.cluster = p.cluster
       |  WHERE c.vec_id <> p.q_id),
       | adc AS (SELECT n.q_id, n.vec_id, k.j, d.d
       |  FROM cand n JOIN codes k ON n.vec_id = k.vec_id
       |  JOIN dt d ON d.q_id = n.q_id AND d.j = k.j
       |    AND d.c_id = k.code),
       | summed AS (SELECT q_id, vec_id,
       |   ${(0 until 16).map(j =>
            s"max(CASE WHEN j = $j THEN d END)")
            .mkString("\n       |   + ")} AS ad2
       |  FROM adc GROUP BY q_id, vec_id)""".stripMargin

  /** The shared multi_match oracle body (q281/q282): per-field
    * postings over the SAME bounded corpus — `text` tokenized,
    * `meta` = [source, lang] — each field with its OWN df and
    * n_docs (the per-field statistics contract), per-field pivoted
    * score sums in the engine's fixed term order, met in a
    * full-outer join; `combiner` is the SQL for the per-doc score
    * off the (s0, s1) pair. */
  private def multiMatchOracle(terms: Seq[String],
                               combiner: String): String = {
    def contribs(alias: String) = terms.map { t =>
      s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
        s"((SELECT n FROM nd) / df::DOUBLE) ELSE 0.0::DOUBLE END)"
    }.mkString(" + ")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
       | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
       | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM d) GROUP BY term, doc_id),
       | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
       |  GROUP BY term),
       | pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest([source, lang]) AS term FROM d)
       |  GROUP BY term, doc_id),
       | dfm AS (SELECT term, count(*)::BIGINT AS df FROM pm
       |  GROUP BY term),
       | st AS (SELECT doc_id, ${contribs("t")} AS s
       |  FROM pt JOIN dft USING (term)
       |  WHERE term IN ($inList) AND doc_id % 37 <> 5
       |  GROUP BY doc_id),
       | sm AS (SELECT doc_id, ${contribs("m")} AS s
       |  FROM pm JOIN dfm USING (term)
       |  WHERE term IN ($inList) AND doc_id % 37 <> 5
       |  GROUP BY doc_id),
       | u AS (SELECT coalesce(st.doc_id, sm.doc_id) AS doc_id,
       |   st.s AS s0, sm.s AS s1
       |  FROM st FULL OUTER JOIN sm ON st.doc_id = sm.doc_id)
       |SELECT doc_id, $combiner AS score,
       | (CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END +
       |  CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |  AS n_fields_hit
       |FROM u ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Shared CTE body for the hybrid-fusion oracles (q298/q299):
    * the relevance retriever's engine-exact pivot scores and the
    * length retriever's n_chars scores, each ranked into its 50-doc
    * window under the engine's (score desc, doc_id) total order. */
  private def fusionOracleCtes: String =
    """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
      | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
      | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM d) GROUP BY term, doc_id),
      | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
      |  GROUP BY term),
      | rel AS (SELECT doc_id,
      |   sum(CASE WHEN term = 'spark' THEN tf::DOUBLE *
      |    ((SELECT n FROM nd) / df::DOUBLE)
      |    ELSE 0.0::DOUBLE END) +
      |   sum(CASE WHEN term = 'join' THEN tf::DOUBLE *
      |    ((SELECT n FROM nd) / df::DOUBLE)
      |    ELSE 0.0::DOUBLE END) AS score
      |  FROM p JOIN dfreq USING (term)
      |  WHERE term IN ('spark', 'join') AND doc_id % 37 <> 5
      |  GROUP BY doc_id),
      | ra AS (SELECT * FROM (SELECT doc_id, score,
      |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      |  FROM rel) WHERE rn <= 50),
      | hits3 AS (SELECT DISTINCT doc_id FROM p
      |  WHERE term IN ('spark', 'join', 'vector')
      |   AND doc_id % 37 <> 5),
      | lr AS (SELECT d.doc_id, d.n_chars::DOUBLE AS score FROM d
      |  JOIN hits3 USING (doc_id)),
      | rb AS (SELECT * FROM (SELECT doc_id, score,
      |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      |  FROM lr) WHERE rn <= 50)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q105b_phrase_indexed" -> phraseOracle,
    "q24_tokenize" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY n DESC, term""".stripMargin,

    "q25_inverted_index" ->
      """SELECT term, count(*) AS doc_freq, sum(tf)::BIGINT AS total_tf
        |FROM (SELECT term, doc_id, count(*) AS tf
        |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |            FROM documents)
        |      GROUP BY term, doc_id)
        |GROUP BY term ORDER BY term""".stripMargin,

    "q26_tfidf_search" -> {
      val terms = searchTerms
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val contribs = terms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * (n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |  count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList)
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q178: the exhaustive exact ranking over the same bounded corpus
    // — MaxScore pruning is lossless by proof, so the pruned path must
    // hash-match the plain top-k
    "q178_maxscore" -> {
      val terms = searchTerms
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val contribs = terms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * (n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |  count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q179: the same full-hit-set terms aggregation computed from the
    // raw corpus — exact integer counts, ES's aggregation semantics;
    // hits exclude the staged index's tombstoned docs
    "q179_facet" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value, count(DISTINCT d.doc_id) AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |GROUP BY source ORDER BY doc_count DESC, value LIMIT 10"""
        .stripMargin
    },

    "q105_phrase_search" -> phraseOracle,

    // q153: same first-occurrence-of-any-term rule (1-based
    // list_position, min over terms), same clamped ±3 window, same
    // bracket marking — snippet text byte-identical
    "q153_highlight" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        | px AS (SELECT doc_id, toks,
        |   list_min(list_filter(
        |     [list_position(toks, 'spark'), list_position(toks, 'join'),
        |      list_position(toks, 'vector')],
        |     x -> x > 0)) AS pos
        |  FROM t)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(len(list_filter(toks,
        |    tk -> list_contains(['spark', 'join', 'vector'], tk)))
        |   AS BIGINT) AS n_hits,
        |  array_to_string(list_transform(
        |    toks[greatest(1, pos - 3) : greatest(1, pos - 3) + 6],
        |    tk -> CASE WHEN list_contains(['spark', 'join', 'vector'], tk)
        |      THEN '[' || tk || ']' ELSE tk END), ' ') AS snippet
        |FROM px WHERE pos IS NOT NULL ORDER BY doc_id""".stripMargin,

    // q152: resolution recomputed as the vocab×query quadratic (valid
    // at oracle scale — the Spark side blocks on deletion variants),
    // then the same single-division tf·idf per resolved pair
    "q152_fuzzy_search" ->
      """WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
        |  GROUP BY term),
        | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        | vocab AS (SELECT DISTINCT term FROM p),
        | q AS (SELECT unnest(['spqrk', 'joinn', 'vector']) AS q_term),
        | cand AS (SELECT q.q_term, v.term FROM q JOIN vocab v
        |  ON levenshtein(q.q_term, v.term) <= 1),
        | scored AS (SELECT c.q_term, c.term,
        |   CAST(levenshtein(c.q_term, c.term) AS BIGINT) AS dist,
        |   p.doc_id,
        |   p.tf::DOUBLE * (nd.n_docs / dfreq.doc_freq::DOUBLE) AS tfidf
        |  FROM cand c JOIN p ON c.term = p.term
        |  JOIN dfreq ON p.term = dfreq.term, nd)
        |SELECT q_term, term, dist, doc_id, tfidf, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_term, term
        |   ORDER BY tfidf DESC, doc_id) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY q_term, term, rank""".stripMargin,

    // q156: the BM25 ranking reproduced through the exact integer
    // ratio tf/(10·L·tf + 3·L + 9·N·dl) — same int64÷int64 double
    // division (correctly rounded ⇒ bit-identical), same doc_id
    // tie-break; the log-based score's certificates are literal TRUE
    "q156_bm25_rank" ->
      """WITH lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM documents),
        | p AS (SELECT doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok = 'data' GROUP BY doc_id),
        | st AS (SELECT count(*)::BIGINT AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_len
        |  FROM documents),
        | r AS (SELECT p.doc_id, tf, dl,
        |   CAST(tf AS DOUBLE) /
        |    CAST(10 * total_len * tf + 3 * total_len + 9 * n_docs * dl
        |     AS DOUBLE) AS rank_key
        |  FROM p JOIN lens USING (doc_id), st),
        | k AS (SELECT doc_id, tf, dl, rank_key,
        |   row_number() OVER (ORDER BY rank_key DESC, doc_id) AS rank
        |  FROM r)
        |SELECT doc_id, tf, dl, CAST(rank AS BIGINT) AS rank, rank_key,
        | TRUE AS rank_agrees, TRUE AS score_in_bounds
        |FROM k WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q176: the TWO-term ranking reproduced through the exact pair
    // key (tf_a·D_b + tf_b·D_a)/(D_a·D_b) — equal-df pair chosen by
    // the same deterministic rule (largest shared df, two smallest
    // terms), same int64 arithmetic and doc_id tie-break; the
    // log-based score's certificates are literal TRUE
    "q176_bm25_pair_rank" ->
      """WITH lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM documents),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY term, doc_id),
        | st AS (SELECT count(*)::BIGINT AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_len
        |  FROM documents),
        | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq
        |  FROM p GROUP BY term),
        | dstar AS (SELECT max(doc_freq) AS dstar
        |  FROM (SELECT doc_freq FROM dfreq
        |        GROUP BY doc_freq HAVING count(*) >= 2)),
        | pairt AS (SELECT term FROM dfreq, dstar
        |  WHERE doc_freq = dstar ORDER BY term LIMIT 2),
        | pr AS (SELECT min(term) AS term_a, max(term) AS term_b
        |  FROM pairt),
        | tfp AS (SELECT doc_id,
        |   CAST(sum(CASE WHEN term = term_a THEN tf ELSE 0 END)
        |     AS BIGINT) AS tf_a,
        |   CAST(sum(CASE WHEN term = term_b THEN tf ELSE 0 END)
        |     AS BIGINT) AS tf_b
        |  FROM p, pr WHERE term = term_a OR term = term_b
        |  GROUP BY doc_id),
        | r AS (SELECT t.doc_id, pr.term_a, pr.term_b, tf_a, tf_b, dl,
        |   10 * total_len * tf_a + 3 * total_len + 9 * n_docs * dl
        |     AS da,
        |   10 * total_len * tf_b + 3 * total_len + 9 * n_docs * dl
        |     AS db
        |  FROM tfp t JOIN lens USING (doc_id), st, pr),
        | ky AS (SELECT *, CAST(tf_a * db + tf_b * da AS DOUBLE) /
        |    CAST(da * db AS DOUBLE) AS rank_key FROM r),
        | k AS (SELECT doc_id, term_a, term_b, tf_a, tf_b, dl, rank_key,
        |   row_number() OVER (ORDER BY rank_key DESC, doc_id) AS rank
        |  FROM ky)
        |SELECT doc_id, term_a, term_b, tf_a, tf_b, dl,
        | CAST(rank AS BIGINT) AS rank, rank_key,
        | TRUE AS rank_agrees, TRUE AS score_in_bounds
        |FROM k WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q164: q156's certificate recomputed from the raw corpus — the
    // index-served ranking must be indistinguishable from the live one
    "q164_bm25_indexed" ->
      """WITH lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM documents),
        | p AS (SELECT doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok = 'data' GROUP BY doc_id),
        | st AS (SELECT count(*)::BIGINT AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_len
        |  FROM documents),
        | r AS (SELECT p.doc_id, tf, dl,
        |   CAST(tf AS DOUBLE) /
        |    CAST(10 * total_len * tf + 3 * total_len + 9 * n_docs * dl
        |     AS DOUBLE) AS rank_key
        |  FROM p JOIN lens USING (doc_id), st),
        | k AS (SELECT doc_id, tf, dl, rank_key,
        |   row_number() OVER (ORDER BY rank_key DESC, doc_id) AS rank
        |  FROM r)
        |SELECT doc_id, tf, dl, CAST(rank AS BIGINT) AS rank, rank_key,
        | TRUE AS rank_agrees, TRUE AS score_in_bounds
        |FROM k WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q157: matched docs + exact integer columns; the multi-term
    // score rides only through its saturation contract (literal TRUE)
    "q157_bm25_multi" ->
      """WITH lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM documents),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY term, doc_id)
        |SELECT p.doc_id, count(*)::BIGINT AS n_terms_hit,
        | CAST(sum(tf) AS BIGINT) AS total_tf,
        | max(dl) AS dl,
        | TRUE AS score_in_bounds
        |FROM p JOIN lens USING (doc_id)
        |WHERE term IN ('spark', 'join', 'vector')
        |GROUP BY p.doc_id ORDER BY doc_id""".stripMargin,

    // q165: Lucene statistics semantics pre-merge — N and df over ALL
    // documents (tombstoned docs still count toward stats), the hit
    // list excludes them; same fixed-order pivoted score as q26
    // q189: the pinned pre-delete view — q165's ranking WITHOUT the
    // tombstone filter (every doc live at the pinned generation)
    "q189_pit_search" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList)
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q190: doc 7's term/tf/0-based-position vectors from the raw
    // text — positions comma-joined (array cells break the compare)
    "q190_term_vectors" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id = 7),
        | t AS (SELECT unnest(string_split(text, ' ')) AS term,
        |        generate_subscripts(string_split(text, ' '), 1) AS ord
        |       FROM d)
        |SELECT term, count(*)::BIGINT AS tf,
        | array_to_string(list_sort(list(ord - 1)), ',') AS positions
        |FROM t GROUP BY term ORDER BY term""".stripMargin,

    // q222: q190's replay for a batch of live ids, doc_id carried
    "q222_mtermvectors" ->
      """WITH d AS (SELECT * FROM documents
        |   WHERE doc_id IN (3, 7, 11)),
        | t AS (SELECT doc_id,
        |        unnest(string_split(text, ' ')) AS term,
        |        generate_subscripts(string_split(text, ' '), 1) AS ord
        |       FROM d)
        |SELECT doc_id, term, count(*)::BIGINT AS tf,
        | array_to_string(list_sort(list(ord - 1)), ',') AS positions
        |FROM t GROUP BY doc_id, term ORDER BY doc_id, term"""
        .stripMargin,

    // q223: live docs containing either term, one count row
    "q223_count" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | hits AS (SELECT DISTINCT doc_id FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM d)
        |   WHERE term IN ('spark', 'vector') AND doc_id % 37 <> 5)
        |SELECT count(*)::BIGINT AS n_hits FROM hits""".stripMargin,

    // q191: hits exclude every doc containing 'join' (the
    // delete-by-query victims) while df/N still count them pre-merge
    "q191_delete_by_query" -> {
      val contribs = Seq("spark", "vector").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | del AS (SELECT DISTINCT doc_id FROM p WHERE term = 'join')
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ('spark', 'vector')
         |  AND doc_id NOT IN (SELECT doc_id FROM del)
         |  AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q188: after reindex the statistics are POST-merge — N and df
    // over the live (non-deleted) docs only, unlike q165's pre-merge
    // phase; scores otherwise the same exact tf·(N/df) arithmetic
    "q188_reindex_alias" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents
         |           WHERE doc_id < 150 AND doc_id % 37 <> 5),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList)
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q201: the dictionary walk replayed — per-term DISTINCT doc
    // counts over ALL docs (pre-tombstone, the dictionary phase)
    "q201_terms_enum" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT DISTINCT doc_id, term FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM d))
        |SELECT term, count(*)::BIGINT AS doc_freq FROM p
        |WHERE term LIKE 'dat%'
        |GROUP BY term ORDER BY term LIMIT 20""".stripMargin,

    // q202: the whole english analyzer chain replayed in DuckDB —
    // lowercase + regex split + stopword filter + the SHARED stemmer
    // CASE (Analyzer.stemSql, dialect-portable by construction), then
    // q165's scoring shape over the analyzed postings. The query
    // literals ('SPARK', 'the', 'Joins', 'vector') analyze to
    // (spark, join, vector) — pinned here as literals
    "q202_analyzed_search" -> {
      val anTerms = Seq("spark", "join", "vector")
      val termList = anTerms.map(t => s"'$t'").mkString(", ")
      val contribs = anTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | toks AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |   FROM d),
         | an AS (SELECT doc_id, term FROM
         |   (SELECT doc_id, ${graft.operators.Analyzer.stemSql("tok")}
         |      AS term FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM an
         |   GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q203: the migrated destination equals a from-scratch english
    // index over the LIVE docs — post-merge statistics (reindex drops
    // tombstones), so the oracle's corpus is the live set itself
    "q203_analyzer_reindex" -> {
      val anTerms = Seq("spark", "join", "vector")
      val termList = anTerms.map(t => s"'$t'").mkString(", ")
      val contribs = anTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents
         |   WHERE doc_id < 150 AND doc_id % 37 <> 5),
         | toks AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |   FROM d),
         | an AS (SELECT doc_id, term FROM
         |   (SELECT doc_id, ${graft.operators.Analyzer.stemSql("tok")}
         |      AS term FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM an
         |   GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList)
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q204: the positional analysis replayed — unnest +
    // generate_subscripts recover (pos, tok) with stopword GAPS
    // (filtered tokens keep consuming positions), then the
    // anchor-count phrase core on offsets spark@0, line@2 (the
    // query's analyzed form — 'the' consumed position 1)
    "q204_analyzed_phrase" -> {
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | toks AS (SELECT doc_id, unnest(l) AS tok,
         |   generate_subscripts(l, 1) - 1 AS pos
         |   FROM (SELECT doc_id,
         |     string_split_regex(lower(text), '[^a-z0-9]+') AS l
         |     FROM d)),
         | an AS (SELECT doc_id, pos, term FROM
         |   (SELECT doc_id, pos,
         |      ${graft.operators.Analyzer.stemSql("tok")} AS term
         |    FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | offs AS (SELECT * FROM (VALUES ('spark', 0), ('line', 2))
         |   AS t(term, off)),
         | anch AS (SELECT doc_id, pos - off AS anchor
         |   FROM an JOIN offs USING (term)
         |   WHERE pos - off >= 0 AND doc_id % 37 <> 5),
         | m AS (SELECT doc_id, anchor FROM anch
         |   GROUP BY doc_id, anchor HAVING count(*) = 2)
         |SELECT doc_id, count(*)::BIGINT AS n_occurrences,
         | min(anchor)::BIGINT AS first_pos
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // q217: the custom-settings chain replayed — english base
    // analysis + the extra stopword, then index-time synonym
    // STACKING as a UNION ALL of mapped terms (each stacked token is
    // one more row at ingest, so tf/df arithmetic needs no special
    // cases); query terms large/quick in fixed pivot order, 'table'
    // dropped by the custom stop list on the query side
    "q217_synonym_search" -> {
      val anTerms = Seq("large", "quick")
      val termList = anTerms.map(t => s"'$t'").mkString(", ")
      val contribs = anTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = (graft.operators.Analyzer.EnglishStopwords :+
        "table").map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | toks AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |   FROM d),
         | an AS (SELECT doc_id, term FROM
         |   (SELECT doc_id, ${graft.operators.Analyzer.stemSql("tok")}
         |      AS term FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | stacked AS (SELECT doc_id, term FROM an
         |   UNION ALL SELECT doc_id, 'large' FROM an WHERE term = 'big'
         |   UNION ALL SELECT doc_id, 'quick' FROM an WHERE term = 'fast'),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |   FROM stacked GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q227: the equivalence group replayed — english base analysis,
    // then the group's DIRECTED CLOSURE as two stacking arms (big
    // docs emit large AND large docs emit big — the second arm fires
    // on zero rows in this corpus, which is exactly the point of
    // replaying the closure, not the data); both query terms in the
    // engine's pivot order (big, large)
    "q227_synonym_group" -> {
      val anTerms = Seq("big", "large")
      val contribs = anTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | toks AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |   FROM d),
         | an AS (SELECT doc_id, term FROM
         |   (SELECT doc_id, ${graft.operators.Analyzer.stemSql("tok")}
         |      AS term FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | stacked AS (SELECT doc_id, term FROM an
         |   UNION ALL SELECT doc_id, 'large' FROM an WHERE term = 'big'
         |   UNION ALL SELECT doc_id, 'big' FROM an WHERE term = 'large'),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |   FROM stacked GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ('big', 'large') AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q228: query-time expansion replayed — the INDEX side is the
    // same stacked ingest (the chain's index-time closure still
    // applies; 'rapid' is never stacked), the QUERY side expands
    // Rapid -> (rapid, fast) with per-term df, in the engine's
    // expansion order (analyzed term first, then its mapped values)
    "q228_query_synonyms" -> {
      val anTerms = Seq("rapid", "fast")
      val contribs = anTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | toks AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |   FROM d),
         | an AS (SELECT doc_id, term FROM
         |   (SELECT doc_id, ${graft.operators.Analyzer.stemSql("tok")}
         |      AS term FROM toks)
         |   WHERE term <> '' AND term NOT IN ($stops)),
         | stacked AS (SELECT doc_id, term FROM an
         |   UNION ALL SELECT doc_id, 'large' FROM an WHERE term = 'big'
         |   UNION ALL SELECT doc_id, 'big' FROM an WHERE term = 'large'),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |   FROM stacked GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ('rapid', 'fast') AND doc_id % 37 <> 5
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q348: the graph synonym replayed — the term clause scores
    // tf·(N/df) with pre-tombstone df (Lucene stats); the phrase
    // clause is the adjacency anchor join with EXACT live-doc phrase
    // df (the pinned exact-phrase pseudo-term convention); clauses
    // add in fixed order, n_terms_hit counts matched clauses
    "q348_graph_synonym" ->
      """WITH d0 AS (SELECT doc_id, text ||
        |   CASE WHEN doc_id % 9 = 2 THEN ' new york'
        |    WHEN doc_id % 9 = 5 THEN ' nyc'
        |    WHEN doc_id % 9 = 7 THEN ' york new'
        |    ELSE '' END AS text
        |  FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d0),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id,
        |     string_split_regex(lower(text), '[^a-z0-9]+') AS l
        |    FROM d0)),
        | tk AS (SELECT * FROM toks WHERE term <> ''),
        | pn AS (SELECT doc_id, count(*)::BIGINT AS tf FROM tk
        |  WHERE term = 'nyc' GROUP BY doc_id),
        | dfn AS (SELECT count(*)::BIGINT AS df FROM pn),
        | ts AS (SELECT doc_id, tf::DOUBLE *
        |   ((SELECT n FROM nd) / (SELECT df FROM dfn)::DOUBLE) AS s
        |  FROM pn WHERE doc_id % 37 <> 5),
        | ph AS (SELECT a.doc_id, count(*)::BIGINT AS nocc
        |  FROM (SELECT doc_id, pos FROM tk WHERE term = 'new') a
        |  JOIN (SELECT doc_id, pos FROM tk WHERE term = 'york') b
        |   ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.doc_id % 37 <> 5
        |  GROUP BY a.doc_id),
        | dfp AS (SELECT count(*)::BIGINT AS df FROM ph),
        | ps AS (SELECT doc_id, nocc::DOUBLE *
        |   ((SELECT n FROM nd) / (SELECT df FROM dfp)::DOUBLE) AS s
        |  FROM ph),
        | ids AS (SELECT doc_id FROM ts UNION SELECT doc_id FROM ps)
        |SELECT i.doc_id,
        | coalesce(ts.s, 0.0::DOUBLE) + coalesce(ps.s, 0.0::DOUBLE)
        |  AS score,
        | ((CASE WHEN ts.s IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN ps.s IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM ids i LEFT JOIN ts ON i.doc_id = ts.doc_id
        | LEFT JOIN ps ON i.doc_id = ps.doc_id
        |ORDER BY score DESC, i.doc_id LIMIT 30""".stripMargin,

    // q218: completion replayed — the exhaustive LIKE-prefix oracle:
    // per-term df over ALL appended docs (dictionary phase — the d1
    // tombstones still count, pre-merge), weight desc, term asc
    "q218_completion_suggest" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | t AS (SELECT DISTINCT doc_id, term FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM d)),
        | w AS (SELECT term, count(*)::BIGINT AS weight FROM t
        |   GROUP BY term)
        |SELECT term, weight FROM w WHERE term LIKE 's%'
        |ORDER BY weight DESC, term LIMIT 10""".stripMargin,

    // q226: the mixed federation replayed — BOTH ingest analyses
    // materialize (raw whitespace split; english lower+stop+stem),
    // df pools by term string over their union, each member's hits
    // come from its OWN analyzed query terms, N = both corpora; the
    // pivot runs over the sorted union (Joins, Sparks, join, spark,
    // the) — the engine's own fixed order
    "q226_federated_mixed" -> {
      val allTerms = Seq("Joins", "Sparks", "join", "spark", "the")
      val contribs = allTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | wsp AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' '))
         |    AS term FROM d) GROUP BY term, doc_id),
         | enp AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id,
         |     ${graft.operators.Analyzer.stemSql("tok")} AS term
         |    FROM (SELECT doc_id, unnest(string_split_regex(
         |      lower(text), '[^a-z0-9]+')) AS tok FROM d))
         |  WHERE term <> '' AND term NOT IN ($stops)
         |  GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM
         |  (SELECT term, doc_id FROM wsp
         |   UNION ALL SELECT term, doc_id FROM enp)
         |  WHERE term IN (${allTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY term),
         | hits AS (
         |  SELECT 'w' AS idx, doc_id, term, tf FROM wsp
         |   WHERE term IN ('Sparks', 'the', 'Joins')
         |  UNION ALL
         |  SELECT 'e' AS idx, doc_id, term, tf FROM enp
         |   WHERE term IN ('spark', 'join')),
         | nd AS (SELECT (2 * count(*))::DOUBLE AS n_docs FROM d)
         |SELECT idx, doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM hits JOIN dfreq USING (term), nd
         |WHERE doc_id % 37 <> 5
         |GROUP BY idx, doc_id
         |ORDER BY score DESC, idx, doc_id LIMIT 20""".stripMargin
    },

    // q224: stats replayed — the lifecycle constants (2 segments,
    // 1 tombstone batch — segIndexDir's fixed shape, the precedent
    // q165 set) as literals, everything else computed from the corpus
    "q224_index_stats" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | del AS (SELECT count(*)::BIGINT AS n_deleted FROM d
        |   WHERE doc_id % 37 = 5),
        | tl AS (SELECT count(*)::BIGINT AS n_docs,
        |   sum(len(string_split(text, ' ')))::BIGINT AS total_len
        |   FROM d)
        |SELECT 2::BIGINT AS n_segments, 1::BIGINT AS n_del_batches,
        | n_docs, n_deleted, (n_docs - n_deleted)::BIGINT AS n_live,
        | total_len
        |FROM tl, del""".stripMargin,

    // q225: rescore replayed — first-pass pivot scores, window via
    // LIMIT, combined = qw·s + rw·(s·n_chars) exactly as the engine
    // multiplies, tail below the window in first-pass order
    "q225_rescore" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' '))
         |    AS term FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | scored AS (SELECT doc_id,
         |   ${contribs.mkString(" + ")} AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'").mkString(", ")})
         |    AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | win AS (SELECT doc_id, score FROM scored
         |   ORDER BY score DESC, doc_id LIMIT 10),
         | resc AS (SELECT w.doc_id,
         |   1.0 * w.score + 0.001 * (w.score *
         |     COALESCE(d2.n_chars::DOUBLE, 1.0)) AS score,
         |   TRUE AS rescored
         |  FROM win w LEFT JOIN d d2 USING (doc_id)),
         | tail AS (SELECT doc_id, score, FALSE AS rescored
         |  FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM win))
         |SELECT doc_id, score, rescored FROM
         | (SELECT * FROM resc UNION ALL SELECT * FROM tail)
         |ORDER BY rescored DESC, score DESC, doc_id LIMIT 15"""
        .stripMargin
    },

    // q229: the chained rescore replayed — q225's first-pass scored
    // CTE, then the two phases as nested window/LIMIT layers: win2
    // narrows r1 (not scored), each left-behind layer keeps its
    // then-current score, final order (n_phases desc, score desc)
    "q229_rescore_chain" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' '))
         |    AS term FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | scored AS (SELECT doc_id,
         |   ${contribs.mkString(" + ")} AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'").mkString(", ")})
         |    AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | win1 AS (SELECT doc_id, score FROM scored
         |   ORDER BY score DESC, doc_id LIMIT 10),
         | r1 AS (SELECT w.doc_id,
         |   1.0 * w.score + 0.001 * (w.score *
         |     COALESCE(d2.n_chars::DOUBLE, 1.0)) AS score
         |  FROM win1 w LEFT JOIN d d2 ON w.doc_id = d2.doc_id),
         | win2 AS (SELECT doc_id, score FROM r1
         |   ORDER BY score DESC, doc_id LIMIT 4),
         | r2 AS (SELECT w.doc_id,
         |   1.0 * w.score + 0.0001 * (w.score *
         |     COALESCE(d2.doc_id::DOUBLE, 1.0)) AS score,
         |   2::BIGINT AS n_phases
         |  FROM win2 w LEFT JOIN d d2 ON w.doc_id = d2.doc_id),
         | layer1 AS (SELECT doc_id, score, 1::BIGINT AS n_phases
         |  FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM win2)),
         | tail AS (SELECT doc_id, score, 0::BIGINT AS n_phases
         |  FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM win1))
         |SELECT doc_id, score, n_phases FROM
         | (SELECT * FROM r2 UNION ALL SELECT * FROM layer1
         |  UNION ALL SELECT * FROM tail)
         |ORDER BY n_phases DESC, score DESC, doc_id LIMIT 15"""
        .stripMargin
    },

    // q221: msearch replayed — one postings derivation feeds every
    // query through the (query_id, term) membership table; the score
    // pivots over the batch's global SORTED term list (fast, join,
    // line, spark, vector), the same fixed order the engine uses
    "q221_msearch" -> {
      val allTerms = Seq("fast", "join", "line", "spark", "vector")
      val contribs = allTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |   FROM (SELECT doc_id, unnest(string_split(text, ' '))
         |     AS term FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |   GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | qt AS (SELECT * FROM (VALUES ('qa', 'spark'), ('qa', 'join'),
         |   ('qb', 'vector'), ('qb', 'fast'), ('qc', 'line'))
         |   t(query_id, term)),
         | scored AS (SELECT query_id, doc_id,
         |   ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term) JOIN qt USING (term), nd
         |  WHERE doc_id % 37 <> 5
         |  GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, n_terms_hit,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id)::BIGINT AS rank
         |FROM scored QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },

    // q230: the phrase suggester replayed exhaustively — the honest
    // vocab×token quadratic replaces the SymSpell blocking (recall-1
    // at dist <= 1, so the candidate sets are provably equal), then
    // the same per-position shortlist, fallback union, cross product,
    // add-one unigram LM product in position order, max_errors and
    // confidence gates
    "q230_phrase_suggest" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | t AS (SELECT DISTINCT doc_id, term FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM d)),
        | dict AS (SELECT term, count(*)::BIGINT AS df FROM t
        |   GROUP BY term),
        | consts AS (SELECT
        |   (SELECT count(*) FROM d)::BIGINT AS n_docs,
        |   (SELECT count(*) FROM dict)::BIGINT AS v),
        | toks AS (SELECT * FROM (VALUES (0, 'spqrk'), (1, 'join'))
        |   t(pos, orig)),
        | cand AS (SELECT pos, term, df,
        |   levenshtein(term, orig)::BIGINT AS dist
        |  FROM dict CROSS JOIN toks
        |  WHERE levenshtein(term, orig) <= 1),
        | shortlist AS (SELECT pos, term, df FROM
        |   (SELECT *, row_number() OVER (PARTITION BY pos
        |      ORDER BY dist, df DESC, term) AS r FROM cand)
        |  WHERE r <= 5),
        | pool AS (SELECT pos, term, max(df)::BIGINT AS df FROM
        |   (SELECT * FROM shortlist
        |    UNION ALL SELECT pos, orig AS term, 0::BIGINT AS df
        |      FROM toks)
        |  GROUP BY pos, term),
        | s0 AS (SELECT
        |   ((COALESCE((SELECT df FROM dict WHERE term = 'spqrk'), 0)
        |      + 1)::DOUBLE / (n_docs + v)::DOUBLE) *
        |   ((COALESCE((SELECT df FROM dict WHERE term = 'join'), 0)
        |      + 1)::DOUBLE / (n_docs + v)::DOUBLE) AS sc
        |  FROM consts),
        | scored AS (SELECT p0.term || ' ' || p1.term AS suggestion,
        |   ((p0.df + 1)::DOUBLE / (n_docs + v)::DOUBLE) *
        |   ((p1.df + 1)::DOUBLE / (n_docs + v)::DOUBLE) AS score,
        |   (CASE WHEN p0.term = 'spqrk' THEN 0 ELSE 1 END +
        |    CASE WHEN p1.term = 'join' THEN 0 ELSE 1 END)::BIGINT
        |     AS n_changed
        |  FROM (SELECT * FROM pool WHERE pos = 0) p0,
        |       (SELECT * FROM pool WHERE pos = 1) p1, consts)
        |SELECT suggestion, score, n_changed FROM scored, s0
        |WHERE n_changed >= 1 AND n_changed <= 1 AND score > 1.0 * sc
        |ORDER BY score DESC, suggestion LIMIT 5""".stripMargin,

    // q219: the completion FIELD replayed — live docs only (the
    // stored read applies tombstones), per-input MAX of the
    // doc-supplied weight, prefix LIKE, weight desc / input asc
    "q219_completion_field" ->
      """WITH d AS (SELECT * FROM documents
        |   WHERE doc_id < 150 AND doc_id % 37 <> 5)
        |SELECT source AS input, max(n_chars)::BIGINT AS weight
        |FROM d WHERE source LIKE 'src1%'
        |GROUP BY source ORDER BY weight DESC, input LIMIT 8"""
        .stripMargin,

    // q206: MLT replayed — doc 7's term vector joins the
    // pre-tombstone df, top-5 by tf·(N/df) (df ≥ 2), and the exact
    // integer rank key Σ tf·(N·D/df) over the selected terms (D =
    // Π df — every weight an exact integer, integer sums order-free,
    // which is what keeps the data-dependent term set hash-exact)
    "q206_more_like_this" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |   GROUP BY term),
        | nd AS (SELECT count(*)::BIGINT AS n_docs FROM d),
        | tv AS (SELECT term, tf FROM p WHERE doc_id = 7),
        | sel AS (SELECT term, df FROM tv JOIN dfreq USING (term), nd
        |   WHERE df >= 2
        |   ORDER BY tf::DOUBLE * (n_docs::DOUBLE / df::DOUBLE) DESC,
        |     term LIMIT 5),
        | dp AS (SELECT CAST(product(df::DOUBLE) AS BIGINT) AS dprod
        |   FROM sel),
        | w AS (SELECT term,
        |   ((SELECT n_docs FROM nd) * (SELECT dprod FROM dp)) // df
        |     AS w FROM sel)
        |SELECT doc_id, sum(tf * w)::BIGINT AS score_key,
        | count(*) AS n_terms_hit
        |FROM p JOIN w USING (term)
        |WHERE doc_id <> 7 AND doc_id % 37 <> 5
        |GROUP BY doc_id ORDER BY score_key DESC, doc_id LIMIT 20"""
        .stripMargin,

    // q207: the suggester replayed as a FULL-SCAN levenshtein filter
    // — the engine's SymSpell blocking is recall-1 (Fuzzy's proof),
    // so the pruned walk must equal the exhaustive scan exactly
    "q207_term_suggest" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | dict AS (SELECT term, count(*)::BIGINT AS doc_freq FROM
        |   (SELECT DISTINCT doc_id, term FROM
        |     (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM d)) GROUP BY term)
        |SELECT term, levenshtein(term, 'vectro')::BIGINT AS dist,
        | doc_freq
        |FROM dict WHERE levenshtein(term, 'vectro') <= 2
        |ORDER BY dist, doc_freq DESC, term LIMIT 5""".stripMargin,

    // q208: all requested ranges appear (zero-count included), from
    // inclusive / to exclusive, over the live hit set
    "q208_range_agg" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | v AS (SELECT d.doc_id, n_chars AS value
         |       FROM d JOIN hits USING (doc_id)),
         | r AS (SELECT * FROM (VALUES (0, 100), (100, 200),
         |   (200, 300), (300, 100000), (100000, 200000))
         |   AS t(range_from, range_to))
         |SELECT range_from::BIGINT AS range_from,
         | range_to::BIGINT AS range_to,
         | count(v.doc_id)::BIGINT AS doc_count
         |FROM r LEFT JOIN v
         | ON value >= range_from AND value < range_to
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // q209: the percolator replayed — distinct (doc, term) × distinct
    // (query, term) meet on term, conjunction = full term-count match
    "q209_percolate" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id < 150),
        | dt AS (SELECT DISTINCT doc_id, term FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM d)),
        | q AS (SELECT * FROM (VALUES (1, 'spark join'), (2, 'vector'),
        |   (3, 'spark nosuchterm'), (4, 'the a'))
        |   AS t(query_id, qtext)),
        | qt AS (SELECT DISTINCT query_id, term FROM
        |   (SELECT query_id, unnest(string_split(qtext, ' ')) AS term
        |    FROM q)),
        | qs AS (SELECT query_id, count(*)::BIGINT AS nq FROM qt
        |   GROUP BY query_id),
        | m AS (SELECT doc_id, query_id, count(*)::BIGINT AS nh
        |   FROM dt JOIN qt USING (term) GROUP BY doc_id, query_id)
        |SELECT doc_id, query_id::BIGINT AS query_id
        |FROM m JOIN qs USING (query_id) WHERE nh = nq
        |ORDER BY doc_id, query_id""".stripMargin,

    // q359: rank_eval replayed — the served pages reproduce from
    // the tf ordering (single-term score = tf·(N/df), N/df constant
    // per query, doc_id tiebreak), judgments are the live
    // vector-holding docs, metrics are the same exact divisions
    "q359_rank_eval" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM d)
        |  GROUP BY 1, 2),
        | liv AS (SELECT * FROM tf WHERE doc_id % 37 <> 5),
        | r1 AS (SELECT 1::BIGINT AS query_id, doc_id,
        |   row_number() OVER (ORDER BY tf DESC, doc_id)::BIGINT
        |    AS rank
        |  FROM liv WHERE term = 'spark'
        |  ORDER BY tf DESC, doc_id LIMIT 10),
        | r2 AS (SELECT 2::BIGINT AS query_id, doc_id,
        |   row_number() OVER (ORDER BY tf DESC, doc_id)::BIGINT
        |    AS rank
        |  FROM liv WHERE term = 'customer'
        |  ORDER BY tf DESC, doc_id LIMIT 10),
        | res AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        | j AS (SELECT DISTINCT doc_id FROM liv
        |  WHERE term = 'vector'),
        | nrel AS (SELECT count(*)::BIGINT AS n_relevant FROM j),
        | m AS (SELECT res.query_id,
        |   sum(CASE WHEN j.doc_id IS NOT NULL AND res.rank <= 5
        |     THEN 1 ELSE 0 END)::BIGINT AS n_hit_k,
        |   min(CASE WHEN j.doc_id IS NOT NULL THEN res.rank END)
        |    AS first_rel
        |  FROM res LEFT JOIN j ON res.doc_id = j.doc_id
        |  GROUP BY 1)
        |SELECT query_id, (SELECT n_relevant FROM nrel) AS n_relevant,
        | n_hit_k,
        | n_hit_k::DOUBLE / 5.0 AS precision_k,
        | n_hit_k::DOUBLE / (SELECT n_relevant FROM nrel)::DOUBLE
        |  AS recall_k,
        | CASE WHEN first_rel IS NOT NULL
        |  THEN 1.0::DOUBLE / first_rel::DOUBLE
        |  ELSE 0.0::DOUBLE END AS mrr
        |FROM m ORDER BY query_id""".stripMargin,

    // q349: the DSL percolator replayed — per clause kind: must =
    // term-set conjunction; phrase = the adjacency anchor join;
    // must_not = shared-vocabulary exclusion; range = inclusive
    // bounds on the stored column (null bound = unbounded)
    "q349_percolate_dsl" ->
      """WITH d AS (SELECT doc_id, text, n_chars FROM documents
        |   WHERE doc_id < 150),
        | tk AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | dt AS (SELECT DISTINCT doc_id, term FROM tk),
        | m1 AS (SELECT doc_id, 1 AS query_id FROM dt
        |   WHERE term IN ('spark', 'join')
        |   GROUP BY doc_id HAVING count(*) = 2),
        | m2 AS (SELECT DISTINCT a.doc_id, 2 AS query_id
        |   FROM (SELECT doc_id, pos FROM tk WHERE term = 'merge') a
        |   JOIN (SELECT doc_id, pos FROM tk WHERE term = 'group') b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        | m3 AS (SELECT doc_id, 3 AS query_id FROM dt
        |   WHERE term = 'spark'
        |   AND doc_id NOT IN (SELECT doc_id FROM dt
        |     WHERE term = 'stream')),
        | m4 AS (SELECT dt.doc_id, 4 AS query_id FROM dt JOIN d
        |    ON dt.doc_id = d.doc_id
        |   WHERE term = 'customer'
        |    AND d.n_chars >= 100 AND d.n_chars <= 300),
        | m5 AS (SELECT dt.doc_id, 5 AS query_id FROM dt JOIN d
        |    ON dt.doc_id = d.doc_id
        |   WHERE term = 'vector' AND d.n_chars >= 150
        |    AND dt.doc_id IN (
        |     SELECT a.doc_id
        |     FROM (SELECT doc_id, pos FROM tk
        |           WHERE term = 'customer') a
        |     JOIN (SELECT doc_id, pos FROM tk
        |           WHERE term = 'vector') b
        |      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)),
        | m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2
        |   UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4
        |   UNION ALL SELECT * FROM m5)
        |SELECT doc_id, query_id::BIGINT AS query_id FROM m
        |ORDER BY doc_id, query_id""".stripMargin,

    // q355: should/minimum_should_match replayed — distinct-hit
    // counts against each registration's msm (ES defaults: 1 for a
    // pure-should bool, 0 beside a must)
    "q355_percolate_should" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id < 150),
        | tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |   FROM d),
        | dt AS (SELECT DISTINCT doc_id, term FROM tk),
        | m1 AS (SELECT doc_id, 1 AS query_id FROM dt
        |   WHERE term IN ('spark', 'vector', 'stream')
        |   GROUP BY doc_id HAVING count(*) >= 1),
        | m2 AS (SELECT doc_id, 2 AS query_id FROM dt
        |   WHERE term IN ('spark', 'vector', 'stream')
        |   GROUP BY doc_id HAVING count(*) >= 2),
        | m3 AS (SELECT doc_id, 3 AS query_id FROM dt
        |   WHERE term = 'customer'
        |   AND doc_id IN (SELECT doc_id FROM dt
        |     WHERE term IN ('spark', 'join'))),
        | m4 AS (SELECT doc_id, 4 AS query_id FROM dt
        |   WHERE term = 'customer'),
        | m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2
        |   UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
        |SELECT doc_id, query_id::BIGINT AS query_id FROM m
        |ORDER BY doc_id, query_id""".stripMargin,

    // q215: q176's pair-certificate oracle under the SEGMENTED
    // phases — df/N/total_len over ALL docs (pre-tombstone stats),
    // the ranked integers over the live docs only; hash equality
    // proves the WAND-pruned serving path returned the exhaustive
    // top-k exactly
    "q215_bm25_wand" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | st AS (SELECT count(*)::BIGINT AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |     AS total_len FROM d),
        | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq
        |  FROM p GROUP BY term),
        | dstar AS (SELECT max(doc_freq) AS dstar
        |  FROM (SELECT doc_freq FROM dfreq
        |        GROUP BY doc_freq HAVING count(*) >= 2)),
        | pairt AS (SELECT term FROM dfreq, dstar
        |  WHERE doc_freq = dstar ORDER BY term LIMIT 2),
        | pr AS (SELECT min(term) AS term_a, max(term) AS term_b
        |  FROM pairt),
        | tfp AS (SELECT doc_id,
        |   CAST(sum(CASE WHEN term = term_a THEN tf ELSE 0 END)
        |     AS BIGINT) AS tf_a,
        |   CAST(sum(CASE WHEN term = term_b THEN tf ELSE 0 END)
        |     AS BIGINT) AS tf_b
        |  FROM p, pr WHERE (term = term_a OR term = term_b)
        |    AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | r AS (SELECT t.doc_id, pr.term_a, pr.term_b, tf_a, tf_b, dl,
        |   10 * total_len * tf_a + 3 * total_len + 9 * n_docs * dl
        |     AS da,
        |   10 * total_len * tf_b + 3 * total_len + 9 * n_docs * dl
        |     AS db
        |  FROM tfp t JOIN lens USING (doc_id), st, pr),
        | ky AS (SELECT *, CAST(tf_a * db + tf_b * da AS DOUBLE) /
        |    CAST(da * db AS DOUBLE) AS rank_key FROM r),
        | k AS (SELECT doc_id, term_a, term_b, tf_a, tf_b, dl, rank_key,
        |   row_number() OVER (ORDER BY rank_key DESC, doc_id) AS rank
        |  FROM ky)
        |SELECT doc_id, term_a, term_b, tf_a, tf_b, dl,
        | CAST(rank AS BIGINT) AS rank, rank_key,
        | TRUE AS rank_agrees, TRUE AS score_in_bounds
        |FROM k WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q216: exact distinct + value count over the live hit set
    "q216_cardinality_agg" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT count(DISTINCT source)::BIGINT AS cardinality,
         | count(source)::BIGINT AS value_count
         |FROM d JOIN hits USING (doc_id)""".stripMargin
    },

    // q212: composite agg replayed — key-ordered buckets strictly
    // after the cursor, first 5
    "q212_composite_agg" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value, count(DISTINCT d.doc_id) AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |WHERE source > 'src12'
         |GROUP BY source ORDER BY value LIMIT 5""".stripMargin
    },

    // q213: function_score replayed — the fixed-order contrib score
    // times the stored field, one exact double multiplication
    "q213_function_score" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | sc AS (SELECT doc_id, ${contribs.mkString(" + ")} AS s0,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id)
         |SELECT doc_id, s0 * n_chars::DOUBLE AS score,
         | n_chars::DOUBLE AS boost_value, n_terms_hit
         |FROM sc JOIN d USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q214: the _analyze endpoint replayed — positional tokens with
    // the shared stemmer CASE, stopword gaps preserved
    "q214_analyze_api" -> {
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |   WHERE doc_id < 50),
         | toks AS (SELECT doc_id, unnest(l) AS tok,
         |   generate_subscripts(l, 1) - 1 AS pos
         |   FROM (SELECT doc_id,
         |     string_split_regex(lower(text), '[^a-z0-9]+') AS l
         |     FROM d))
         |SELECT doc_id, pos::BIGINT AS pos, term FROM
         | (SELECT doc_id, pos,
         |    ${graft.operators.Analyzer.stemSql("tok")} AS term
         |  FROM toks)
         |WHERE term <> '' AND term NOT IN ($stops)
         |ORDER BY doc_id, pos""".stripMargin
    },

    // q211: the positional highlighter replayed — case-preserving
    // tokens with subscripts, per-token analyzed form via the SHARED
    // stemmer CASE, window rows re-assembled with an ordered
    // string_agg; marks are analyzed-term membership
    "q211_analyzed_highlight" -> {
      val stem = graft.operators.Analyzer.stemSql("lower(tok)")
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |   WHERE doc_id < 150 AND doc_id % 37 <> 5),
         | toks AS (SELECT doc_id, unnest(l) AS tok,
         |   generate_subscripts(l, 1) AS pos
         |   FROM (SELECT doc_id,
         |     string_split_regex(text, '[^a-zA-Z0-9]+') AS l FROM d)),
         | an AS (SELECT doc_id, pos, tok,
         |   ($stem IN ('spark', 'join', 'vector')) AS m FROM toks),
         | firsts AS (SELECT doc_id, min(pos)::BIGINT AS pos FROM an
         |   WHERE m GROUP BY doc_id),
         | win AS (SELECT a.doc_id, a.pos AS tpos, a.tok, a.m
         |   FROM an a JOIN firsts f USING (doc_id)
         |   WHERE a.pos >= greatest(1, f.pos - 3)
         |     AND a.pos < greatest(1, f.pos - 3) + 7),
         | sn AS (SELECT doc_id, string_agg(
         |     CASE WHEN m THEN '[' || tok || ']' ELSE tok END, ' '
         |     ORDER BY tpos) AS snippet
         |   FROM win GROUP BY doc_id),
         | nh AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM an
         |   WHERE m GROUP BY doc_id)
         |SELECT doc_id, pos, n_hits, snippet
         |FROM firsts JOIN nh USING (doc_id) JOIN sn USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // q210: top-hits replayed — the fixed-order scored hit set under
    // a per-source row_number window, rank <= 2
    "q210_top_hits" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | sc AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | j AS (SELECT source AS value, sc.doc_id, score
         |  FROM sc JOIN d USING (doc_id) WHERE source IS NOT NULL),
         | r AS (SELECT value, doc_id, score, row_number() OVER
         |   (PARTITION BY value ORDER BY score DESC, doc_id) AS rank
         |  FROM j)
         |SELECT value, doc_id, score, rank::BIGINT AS rank FROM r
         |WHERE rank <= 2 ORDER BY value, rank""".stripMargin
    },

    // q205: the family-agg losslessness statement — the rolled
    // family's stats equal q192's shape over the combined corpus
    // (the family carries no tombstones, so no live filter)
    "q205_family_stats" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList))
         |SELECT count(*)::BIGINT AS n_docs,
         | min(n_chars) AS vmin, max(n_chars) AS vmax,
         | sum(n_chars)::BIGINT AS vsum,
         | sum(n_chars)::DOUBLE / count(*)::DOUBLE AS vavg
         |FROM d JOIN hits USING (doc_id)""".stripMargin
    },

    // q200: the losslessness statement on the AGG side — the split
    // pair's facet equals q179's whole-corpus facet verbatim
    "q200_multi_index_facet" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value, count(DISTINCT d.doc_id) AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |GROUP BY source ORDER BY doc_count DESC, value LIMIT 10"""
        .stripMargin
    },

    // q198: collapse replayed — best (score desc, doc_id) row per
    // source via a partitioned row_number, global order afterwards
    "q198_collapse_search" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | v AS (SELECT h.doc_id, h.score, d.source AS group_value
         |  FROM hits h JOIN d USING (doc_id)),
         | c AS (SELECT *, row_number() OVER
         |   (PARTITION BY group_value ORDER BY score DESC, doc_id)
         |     AS rn FROM v)
         |SELECT doc_id, score, group_value FROM c WHERE rn = 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q199: doc 7's per-term breakdown — tf and pre-tombstone df/N
    "q199_explain_score" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT term, tf, doc_freq,
         | tf::DOUBLE * (n_docs / doc_freq::DOUBLE) AS contrib
         |FROM p JOIN dfreq USING (term), nd
         |WHERE doc_id = 7 AND term IN ($termList)
         |ORDER BY term""".stripMargin
    },

    // q197: 'big or*' replayed — expansion over the PRE-tombstone
    // vocabulary (LIKE 'or%', smallest 50), anchors over live docs,
    // HAVING count = 2 is the all-offsets-matched test
    "q197_phrase_prefix" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | pos AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS term,
        |   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM d),
        | exp AS (SELECT term FROM
        |   (SELECT DISTINCT term FROM pos WHERE term LIKE 'or%')
        |  ORDER BY term LIMIT 50),
        | offs AS (SELECT 'big' AS term, 0::BIGINT AS off
        |  UNION ALL SELECT term, 1::BIGINT FROM exp),
        | m AS (SELECT p.doc_id, p.pos - o.off AS anchor
        |  FROM pos p JOIN offs o USING (term)
        |  WHERE p.pos - o.off >= 0 AND p.doc_id % 37 <> 5),
        | a AS (SELECT doc_id, anchor FROM m
        |  GROUP BY doc_id, anchor HAVING count(*) = 2)
        |SELECT doc_id, count(*) AS n_occurrences,
        | min(anchor) AS first_pos
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q195: the wildcard 'd?ta*' as the anchored regex ^d.ta.*$ over
    // per-doc distinct tokens, live docs only, constant score
    "q195_wildcard_search" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d)
        |SELECT doc_id, 1.0::DOUBLE AS score,
        | count(DISTINCT term)::BIGINT AS n_terms_matched
        |FROM p
        |WHERE regexp_matches(term, '^d.ta.*$') AND doc_id % 37 <> 5
        |GROUP BY doc_id ORDER BY doc_id LIMIT 50""".stripMargin,

    // q196: the rolled family ranks exactly like one corpus under
    // global stats; idx is the family ordinal by ingestion split
    "q196_rollover_family" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT CASE WHEN doc_id < 100 THEN '000001'
         |   ELSE '000002' END AS idx,
         | doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList)
         |GROUP BY idx, doc_id
         |ORDER BY score DESC, idx, doc_id LIMIT 20""".stripMargin
    },

    // q194: RRF replayed — integer ranks from both rankings (the
    // lexical exact-score order and the fold-exact cosine order),
    // fused contributions 1/(60+rank); a two-addend double sum is
    // commutative, so the fused scores cross engines bitwise
    "q194_hybrid_rrf" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | lex AS (SELECT doc_id, row_number() OVER
         |   (ORDER BY score DESC, doc_id)::BIGINT AS r
         |  FROM hits QUALIFY r <= 20),
         | $dkNormed,
         | dense AS (SELECT c.vec_id AS doc_id,
         |   row_number() OVER (ORDER BY
         |     ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |     c.vec_id ASC)::BIGINT AS r
         |  FROM normed q JOIN normed c
         |   ON q.vec_id = 3 AND c.vec_id != q.vec_id
         |  QUALIFY r <= 20),
         | uni AS (
         |  SELECT doc_id, 1.0::DOUBLE / (60 + r)::DOUBLE AS contrib
         |  FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1.0::DOUBLE / (60 + r)::DOUBLE FROM dense)
         |SELECT doc_id, sum(contrib) AS rrf_score,
         | count(*) AS n_rankers
         |FROM uni GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q193: the nested terms+stats agg replayed — per-source buckets
    // of the live hit set with n_chars stats, avg over value count
    "q193_facet_stats" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value,
         | count(DISTINCT d.doc_id) AS doc_count,
         | min(n_chars) AS vmin, max(n_chars) AS vmax,
         | sum(n_chars)::BIGINT AS vsum,
         | sum(n_chars)::DOUBLE / count(n_chars)::DOUBLE AS vavg
         |FROM d JOIN hits USING (doc_id)
         |GROUP BY source ORDER BY doc_count DESC, value LIMIT 10"""
        .stripMargin
    },

    // q192: the same single-row stats over the live hit set; sum
    // cast to BIGINT (DuckDB sums integers to HUGEINT), avg the
    // identical double division
    "q192_stats_facet" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT count(*)::BIGINT AS n_docs,
         | min(n_chars) AS vmin, max(n_chars) AS vmax,
         | sum(n_chars)::BIGINT AS vsum,
         | sum(n_chars)::DOUBLE / count(*)::DOUBLE AS vavg
         |FROM d JOIN hits USING (doc_id)""".stripMargin
    },

    // q186: JLH replayed — fg over the live hit docs' term lists,
    // bg over ALL (doc,term) pairs (the pre-merge dictionary phase),
    // identical expression tree so the doubles cross engines bitwise
    "q186_significant_terms" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | pr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d),
         | p AS (SELECT DISTINCT doc_id, term FROM pr),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | hits AS (SELECT DISTINCT doc_id FROM liv
         |          WHERE term IN ($termList)),
         | f AS (SELECT count(*)::DOUBLE AS fcnt FROM hits),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | fg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
         |  FROM liv JOIN hits USING (doc_id) GROUP BY term),
         | bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_count
         |  FROM p GROUP BY term),
         | s AS (SELECT term, fg_count, bg_count,
         |   (fg_count::DOUBLE / fcnt - bg_count::DOUBLE / n_docs) *
         |   ((fg_count::DOUBLE / fcnt) / (bg_count::DOUBLE / n_docs))
         |     AS score
         |  FROM fg JOIN bg USING (term), f, nd)
         |SELECT term, fg_count, bg_count, score FROM s
         |WHERE fg_count >= 3 AND score > 0.0
         |ORDER BY score DESC, term LIMIT 20""".stripMargin
    },

    // q358: background_filter replayed — q186's foreground with the
    // background recounted over LIVE lang='en' docs; n_bg is that
    // set's size; fg-only terms drop via the inner join
    "q358_significant_bg_filter" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | pr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d),
         | p AS (SELECT DISTINCT doc_id, term FROM pr),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | hits AS (SELECT DISTINCT doc_id FROM liv
         |          WHERE term IN ($termList)),
         | f AS (SELECT count(*)::DOUBLE AS fcnt FROM hits),
         | bgd AS (SELECT doc_id FROM d
         |  WHERE lang = 'en' AND doc_id % 37 <> 5),
         | nb AS (SELECT count(*)::DOUBLE AS n_bg FROM bgd),
         | fg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
         |  FROM liv JOIN hits USING (doc_id) GROUP BY term),
         | bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_count
         |  FROM liv JOIN bgd USING (doc_id) GROUP BY term),
         | s AS (SELECT term, fg_count, bg_count,
         |   (fg_count::DOUBLE / fcnt - bg_count::DOUBLE / n_bg) *
         |   ((fg_count::DOUBLE / fcnt) / (bg_count::DOUBLE / n_bg))
         |     AS score
         |  FROM fg JOIN bg USING (term), f, nb)
         |SELECT term, fg_count, bg_count, score FROM s
         |WHERE fg_count >= 3 AND score > 0.0
         |ORDER BY score DESC, term LIMIT 20""".stripMargin
    },

    // q187: q180's bool with the range constraint intersected into
    // the candidates — scores identical to the unfiltered bool
    "q187_bool_range_filter" -> {
      val scoring = Seq("spark", "data", "vector")
      val contribs = scoring.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | cand0 AS (
         |  SELECT doc_id FROM liv WHERE term IN ('spark', 'data')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |  EXCEPT
         |  SELECT doc_id FROM liv WHERE term = 'join'),
         | cand AS (
         |  SELECT doc_id FROM cand0
         |  INTERSECT
         |  SELECT doc_id FROM d
         |  WHERE n_chars BETWEEN 100 AND 400 AND doc_id % 37 <> 5)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM liv JOIN dfreq USING (term) JOIN cand USING (doc_id), nd
         |WHERE term IN ('spark', 'data', 'vector')
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    // q183: page 2 is exactly ranks 21–40 of the total
    // (score desc, doc_id) order — the paging-correctness oracle
    "q183_search_after" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | rn AS (SELECT *, row_number() OVER
         |   (ORDER BY score DESC, doc_id) AS r FROM hits)
         |SELECT doc_id, score, n_terms_hit FROM rn
         |WHERE r BETWEEN 21 AND 40
         |ORDER BY score DESC, doc_id""".stripMargin
    },

    // q184: constant-score prefix expansion — per live doc, how many
    // DISTINCT tokens start with the prefix; 'nodata' must not match
    "q184_prefix_search" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d)
        |SELECT doc_id, 1.0::DOUBLE AS score,
        | count(DISTINCT term)::BIGINT AS n_terms_matched
        |FROM p WHERE term LIKE 'dat%' AND doc_id % 37 <> 5
        |GROUP BY doc_id ORDER BY doc_id LIMIT 50""".stripMargin,

    // q185: the hit set ordered by the stored numeric field, missing
    // values last (none in the fixture), doc_id the tiebreaker
    "q185_sorted_search" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT doc_id, n_chars AS sort_value
         |FROM d JOIN hits USING (doc_id)
         |ORDER BY sort_value DESC, doc_id LIMIT 20""".stripMargin
    },

    // q182: the losslessness property IS the oracle — global-stats
    // federated ranking over the split indices must equal q165's
    // single-corpus ranking, docs tagged by which index holds them
    "q182_multi_index_search" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT CASE WHEN doc_id < 75 THEN 'left' ELSE 'right' END
         |   AS idx,
         | doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY idx, doc_id
         |ORDER BY score DESC, idx, doc_id LIMIT 20""".stripMargin
    },

    // q181: the same gap-filled histogram from the raw corpus —
    // occupied-bounds range via generate_series, zeros coalesced
    "q181_histogram_facet" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 50) * 50 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   50)) AS bucket)
         |SELECT bucket, coalesce(doc_count, 0)::BIGINT AS doc_count
         |FROM b LEFT JOIN c USING (bucket) ORDER BY bucket"""
        .stripMargin
    },

    // q231: the pipeline tier replayed — q181's gap-filled series,
    // then the same window functions (running sum, lag delta with a
    // null first bucket, trailing-3 average as an exact long sum over
    // one division), selector applied AFTER the pipelines (reduce
    // order)
    "q231_pipeline_aggs" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 50) * 50 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   50)) AS bucket),
         | filled AS (SELECT bucket,
         |   coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket)),
         | piped AS (SELECT bucket, doc_count,
         |   sum(doc_count) OVER (ORDER BY bucket
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     ::BIGINT AS cum_count,
         |   (doc_count - lag(doc_count) OVER (ORDER BY bucket))
         |     ::BIGINT AS derivative,
         |   sum(doc_count) OVER (ORDER BY bucket
         |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::DOUBLE /
         |   count(*) OVER (ORDER BY bucket
         |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::DOUBLE
         |     AS moving_avg
         |  FROM filled)
         |SELECT bucket, doc_count, cum_count, derivative, moving_avg
         |FROM piped WHERE doc_count >= 1 ORDER BY bucket"""
        .stripMargin
    },

    // q232: the sibling stats_bucket replayed — one row over the
    // same gap-filled doc_count series, avg = exact sum / count
    "q232_stats_bucket" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 50) * 50 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   50)) AS bucket),
         | filled AS (SELECT bucket,
         |   coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket))
         |SELECT count(*)::BIGINT AS n_buckets,
         | min(doc_count)::BIGINT AS bmin,
         | max(doc_count)::BIGINT AS bmax,
         | sum(doc_count)::BIGINT AS bsum,
         | (sum(doc_count)::DOUBLE / count(*)::DOUBLE) AS bavg
         |FROM filled""".stripMargin
    },

    // q233: keyed filters replayed — per-name distinct live hits
    // from one token derivation, the all-miss bucket zero-filled
    "q233_filters_agg" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | qt AS (SELECT * FROM (VALUES ('sparkish', 'spark'),
        |   ('joiny', 'join'), ('joiny', 'vector'),
        |   ('none', 'zz-absent-term')) t(name, term)),
        | counts AS (SELECT name,
        |   count(DISTINCT doc_id)::BIGINT AS doc_count
        |  FROM p JOIN qt USING (term) WHERE doc_id % 37 <> 5
        |  GROUP BY name),
        | names AS (SELECT * FROM (VALUES ('sparkish'), ('joiny'),
        |   ('none')) t(name))
        |SELECT name, coalesce(doc_count, 0)::BIGINT AS doc_count
        |FROM names LEFT JOIN counts USING (name)
        |ORDER BY name""".stripMargin,

    // q234: the adjacency matrix replayed — per-filter distinct live
    // doc sets, singles + lexicographic 'a&b' pair intersections,
    // empty cells dropping out of the GROUP BY naturally
    "q234_adjacency_matrix" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | qt AS (SELECT * FROM (VALUES ('j', 'join'), ('s', 'spark'),
        |   ('v', 'vector')) t(name, term)),
        | dn AS (SELECT DISTINCT name, doc_id FROM p JOIN qt
        |   USING (term) WHERE doc_id % 37 <> 5),
        | singles AS (SELECT name AS key, count(*)::BIGINT AS doc_count
        |  FROM dn GROUP BY name),
        | pairs AS (SELECT a.name || '&' || b.name AS key,
        |   count(*)::BIGINT AS doc_count
        |  FROM dn a JOIN dn b
        |    ON a.doc_id = b.doc_id AND a.name < b.name
        |  GROUP BY 1)
        |SELECT key, doc_count FROM
        | (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
        |ORDER BY key""".stripMargin,

    // q235: percentile ranks replayed — exact at-or-below counts per
    // requested value over the live hit docs' field, one division
    "q235_percentile_ranks" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | vals AS (SELECT n_chars AS value FROM d
         |   JOIN hits USING (doc_id)),
         | n AS (SELECT count(*)::BIGINT AS n FROM vals),
         | req AS (SELECT * FROM (VALUES (100), (400), (2000)) t(rv)),
         | counts AS (SELECT rv, count(*)::BIGINT AS le FROM vals
         |   JOIN req ON value <= rv GROUP BY rv)
         |SELECT rv::BIGINT AS value,
         | (coalesce(le, 0)::DOUBLE * 100.0 / n::DOUBLE)
         |   AS percentile_rank
         |FROM req LEFT JOIN counts USING (rv), n
         |ORDER BY value""".stripMargin
    },

    // q236: exists replayed — live docs with a non-null field,
    // constant score, id-ordered page
    "q236_exists_query" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150)
        |SELECT doc_id, 1.0::DOUBLE AS score FROM d
        |WHERE source IS NOT NULL AND doc_id % 37 <> 5
        |ORDER BY doc_id LIMIT 25""".stripMargin,

    // q237: the sloppy phrase replayed from raw positions
    // (generate_subscripts zips with unnest — q204's pattern): min
    // |q−p−1| over all occurrence pairs per live doc, <= slop
    "q237_sloppy_phrase" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | pa AS (SELECT doc_id, pos FROM toks
        |   WHERE term = 'spark' AND doc_id % 37 <> 5),
        | pb AS (SELECT doc_id, pos FROM toks
        |   WHERE term = 'join' AND doc_id % 37 <> 5),
        | m AS (SELECT a.doc_id,
        |   min(abs(b.pos - a.pos - 1))::BIGINT AS min_moves
        |  FROM pa a JOIN pb b ON a.doc_id = b.doc_id
        |  GROUP BY a.doc_id)
        |SELECT doc_id, min_moves FROM m WHERE min_moves <= 3
        |ORDER BY doc_id LIMIT 20""".stripMargin,

    // q238: the boosted federation replayed — q182's global-stats
    // scoring, then ONE multiply by the per-index boost before the
    // global top-k
    "q238_indices_boost" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | scored AS (SELECT
         |   CASE WHEN doc_id < 75 THEN 'left' ELSE 'right' END AS idx,
         |   doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY idx, doc_id)
         |SELECT idx, doc_id,
         | score * (CASE idx WHEN 'left' THEN 1.5 ELSE 1.0 END)::DOUBLE
         |   AS score,
         | n_terms_hit
         |FROM scored
         |ORDER BY score DESC, idx, doc_id LIMIT 20""".stripMargin
    },

    // q239: the linear decay replayed — λ = 400/(1−0.5) = 800 exact,
    // mult = max(0, (λ − |n_chars − 500|)/λ), one multiply onto the
    // pivot score
    "q239_decay_score" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | scored AS (SELECT doc_id,
         |   ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id)
         |SELECT s.doc_id,
         | s.score * greatest(0.0::DOUBLE,
         |   (800.0::DOUBLE - abs(d2.n_chars - 500)::DOUBLE)
         |     / 800.0::DOUBLE) AS score,
         | greatest(0.0::DOUBLE,
         |   (800.0::DOUBLE - abs(d2.n_chars - 500)::DOUBLE)
         |     / 800.0::DOUBLE) AS decay_mult,
         | s.n_terms_hit
         |FROM scored s JOIN d d2 ON s.doc_id = d2.doc_id
         |ORDER BY score DESC, s.doc_id LIMIT 20""".stripMargin
    },

    // q241: terms_set replayed — the usual pivot with a HAVING on
    // the distinct matched-term count
    "q241_terms_set" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d)
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM p JOIN dfreq USING (term), nd
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY doc_id HAVING count(*) >= 2
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q242: dis_max replayed — per-clause pivots (engine clause
    // order), FULL OUTER join, best + tie_breaker·(sum − best)
    "q242_dis_max" -> {
      val c0 = Seq("spark", "join").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }.mkString(" + ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | c0 AS (SELECT doc_id, $c0 AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ('spark', 'join') AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | c1 AS (SELECT doc_id,
         |   sum(CASE WHEN term = 'vector' THEN tf::DOUBLE *
         |     (n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)
         |     AS score
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term = 'vector' AND doc_id % 37 <> 5
         |  GROUP BY doc_id),
         | j AS (SELECT COALESCE(c0.doc_id, c1.doc_id) AS doc_id,
         |   c0.score AS s0n, c1.score AS s1n
         |  FROM c0 FULL JOIN c1 ON c0.doc_id = c1.doc_id)
         |SELECT doc_id,
         | greatest(COALESCE(s0n, 0.0::DOUBLE),
         |   COALESCE(s1n, 0.0::DOUBLE)) +
         |  0.3 * ((COALESCE(s0n, 0.0::DOUBLE) +
         |    COALESCE(s1n, 0.0::DOUBLE)) -
         |   greatest(COALESCE(s0n, 0.0::DOUBLE),
         |     COALESCE(s1n, 0.0::DOUBLE))) AS score,
         | ((s0n IS NOT NULL)::INT + (s1n IS NOT NULL)::INT)::BIGINT
         |   AS n_clauses_hit
         |FROM j ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q243: span_first replayed — min analyzed position per live doc
    // below the bound
    "q243_span_first" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | m AS (SELECT doc_id, min(pos)::BIGINT AS first_pos
        |  FROM toks WHERE term = 'spark' AND doc_id % 37 <> 5
        |  GROUP BY doc_id)
        |SELECT doc_id, first_pos FROM m WHERE first_pos < 5
        |ORDER BY doc_id LIMIT 20""".stripMargin,

    // q244: field caps replayed — the staged index's stored schema
    // as literals (both segments carry every documents column; the
    // text field is the one the postings index — searchable)
    "q244_field_caps" ->
      """SELECT * FROM (VALUES
        | ('doc_id', 'bigint', false, true, 2::BIGINT),
        | ('lang', 'string', false, true, 2::BIGINT),
        | ('n_chars', 'bigint', false, true, 2::BIGINT),
        | ('source', 'string', false, true, 2::BIGINT),
        | ('text', 'string', true, true, 2::BIGINT))
        | t(field, dtype, searchable, aggregatable, n_segments)
        |ORDER BY field""".stripMargin,

    // q245: geo_bounding_box replayed — the deterministic coordinate
    // lattice re-derived in SQL (integer modulo then one division —
    // bit-identical doubles), the inclusive box as plain range
    // predicates (the tile IN-list is a pruning superset, so the
    // oracle needn't model it)
    "q245_geo_bbox" ->
      s"""WITH g AS (SELECT c_custkey,
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer)
         |SELECT c_custkey, lat, lon FROM g
         |WHERE lat <= 30.0 AND lat >= -10.0
         |  AND lon >= -40.0 AND lon <= 20.0
         |ORDER BY c_custkey LIMIT 40""".stripMargin,

    // q246: geo_distance replayed — identical IEEE pipeline
    // (subtract, square, add-in-order, sqrt, one scale multiply),
    // the radius-to-degrees division written out so both engines
    // compute the very same double
    "q246_geo_distance" ->
      s"""WITH g AS (SELECT c_custkey,
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | b AS (SELECT c_custkey AS id, lat, lon,
         |   (lat - 10.0) AS dlat, (lon - 20.0) AS dlon FROM g
         |  WHERE lat <= 10.0 + 1500000.0/111195.0
         |    AND lat >= 10.0 - 1500000.0/111195.0
         |    AND lon >= 20.0 - 1500000.0/111195.0
         |    AND lon <= 20.0 + 1500000.0/111195.0)
         |SELECT id, lat, lon,
         | 111195.0 * sqrt(dlat*dlat + dlon*dlon) AS distance_m
         |FROM b
         |WHERE dlat*dlat + dlon*dlon <=
         |  (1500000.0/111195.0)*(1500000.0/111195.0)
         |ORDER BY distance_m, id LIMIT 25""".stripMargin,

    // q247: geo_distance agg replayed — ring assignment as the same
    // fixed-order CASE chain over squared degree distances, every
    // requested ring emitted via a VALUES frame, empty rings at 0
    "q247_geo_rings" -> {
      val ringCase = Seq(500000.0, 1000000.0, 2000000.0, 4000000.0)
        .zipWithIndex.map { case (e, i) =>
          s"WHEN d2 < ($e/111195.0)*($e/111195.0) THEN $i"
        }.mkString(" ")
      s"""WITH g AS (SELECT
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | b AS (SELECT (lat - 0.0)*(lat - 0.0)
         |     + (lon - 0.0)*(lon - 0.0) AS d2 FROM g
         |  WHERE lat <= 0.0 + 4000000.0/111195.0
         |    AND lat >= 0.0 - 4000000.0/111195.0
         |    AND lon >= 0.0 - 4000000.0/111195.0
         |    AND lon <= 0.0 + 4000000.0/111195.0),
         | r AS (SELECT CASE $ringCase ELSE -1 END AS ring FROM b),
         | c AS (SELECT ring, count(*) AS doc_count FROM r
         |  WHERE ring >= 0 GROUP BY ring),
         | rings AS (SELECT * FROM (VALUES
         |   (0, 0.0, 500000.0), (1, 500000.0, 1000000.0),
         |   (2, 1000000.0, 2000000.0), (3, 2000000.0, 4000000.0))
         |  t(ring, from_m, to_m))
         |SELECT rings.ring, from_m, to_m,
         | COALESCE(doc_count, 0) AS doc_count
         |FROM rings LEFT JOIN c ON rings.ring = c.ring
         |ORDER BY rings.ring""".stripMargin
    },

    // q248: geotile_grid replayed — the same clamped floor
    // arithmetic (equirectangular row, zoom 5), counts by cell,
    // top-k by (doc_count desc, key)
    "q248_geo_tile_grid" ->
      s"""WITH g AS (SELECT
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | t AS (SELECT '5/' ||
         |   CAST(least(31, greatest(0,
         |     floor((lon + 180.0) / 360.0 * 32.0))) AS BIGINT) ||
         |   '/' ||
         |   CAST(least(31, greatest(0,
         |     floor((90.0 - lat) / 180.0 * 32.0))) AS BIGINT)
         |   AS tile FROM g)
         |SELECT tile, count(*) AS doc_count FROM t GROUP BY tile
         |ORDER BY doc_count DESC, tile LIMIT 30""".stripMargin,

    // q249: date_histogram replayed — calendar truncation, month
    // sequence between the occupied bounds, zero-filled gaps
    "q249_date_histogram" ->
      """WITH b AS (SELECT date_trunc('month', o_orderdate) AS bucket,
        |   count(*)::BIGINT AS doc_count
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        | bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi
        |  FROM b),
        | allb AS (SELECT unnest(generate_series(lo, hi,
        |   INTERVAL 1 MONTH)) AS bucket FROM bounds)
        |SELECT allb.bucket, COALESCE(doc_count, 0) AS doc_count
        |FROM allb LEFT JOIN b ON allb.bucket = b.bucket
        |ORDER BY allb.bucket""".stripMargin,

    // q250: date_range replayed — one conditional pass, the four
    // windows joined back in request order (ord never projected)
    "q250_date_range" ->
      """WITH c AS (SELECT
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
        |    THEN 1 ELSE 0 END)::BIGINT AS c0,
        |  sum(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |    THEN 1 ELSE 0 END)::BIGINT AS c1,
        |  sum(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
        |    THEN 1 ELSE 0 END)::BIGINT AS c2,
        |  sum(CASE WHEN ts >= TIMESTAMP '2030-01-01 00:00:00'
        |    THEN 1 ELSE 0 END)::BIGINT AS c3
        | FROM events WHERE ts IS NOT NULL),
        | k AS (SELECT * FROM (VALUES
        |  (0, 'w1', CAST(NULL AS VARCHAR), '2024-01-08 00:00:00'),
        |  (1, 'w2', '2024-01-08 00:00:00', '2024-01-22 00:00:00'),
        |  (2, 'w3', '2024-01-22 00:00:00', CAST(NULL AS VARCHAR)),
        |  (3, 'future', '2030-01-01 00:00:00',
        |   CAST(NULL AS VARCHAR)))
        |  t(ord, range_key, from_ts, to_ts))
        |SELECT range_key, from_ts, to_ts,
        | CASE k.ord WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
        |  ELSE c3 END AS doc_count
        |FROM k, c ORDER BY k.ord""".stripMargin,

    // q251: multi_terms replayed — compound (lang, source) buckets
    // of the live hit set, docs missing either key part dropped
    "q251_multi_terms" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT lang, source, count(DISTINCT d.doc_id) AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |WHERE lang IS NOT NULL AND source IS NOT NULL
         |GROUP BY lang, source
         |ORDER BY doc_count DESC, lang, source LIMIT 12""".stripMargin
    },

    // q252: rare_terms replayed — ascending by count under the cap,
    // value the tiebreaker
    "q252_rare_terms" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value, count(DISTINCT d.doc_id) AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |WHERE source IS NOT NULL
         |GROUP BY source HAVING count(DISTINCT d.doc_id) <= 6
         |ORDER BY doc_count, value""".stripMargin
    },

    // q253: simple_query_string replayed — the compiled bool shape
    // in SQL: must term (spark) + exact-adjacency phrase gate
    // (customer vector), stream excluded, {spark, join} score in
    // the engine's fixed clause order
    "q253_simple_query_string" -> {
      val contribs = Seq("spark", "join").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | toks AS (SELECT doc_id, unnest(l) AS term,
         |   generate_subscripts(l, 1) - 1 AS pos
         |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
         | ph AS (SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'customer' AND b.term = 'vector'
         |    AND a.doc_id % 37 <> 5),
         | cand AS (
         |  SELECT doc_id FROM liv WHERE term = 'spark'
         |  INTERSECT SELECT doc_id FROM ph
         |  EXCEPT SELECT doc_id FROM liv WHERE term = 'stream')
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM liv JOIN dfreq USING (term), nd
         |WHERE term IN ('spark', 'join')
         |  AND doc_id IN (SELECT doc_id FROM cand)
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q254: span_near replayed — occurrence pairs off the position
    // arrays, in-order gap arithmetic, pair count + tightest gap
    "q254_span_near" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | pa AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | pb AS (SELECT doc_id, pos FROM toks
        |  WHERE term IN ('join', 'vector') AND doc_id % 37 <> 5),
        | pairs AS (SELECT pa.doc_id,
        |   CAST(pb.pos - pa.pos - 1 AS BIGINT) AS gap
        |  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
        |  WHERE pb.pos - pa.pos - 1 >= 0)
        |SELECT doc_id, count(*) AS n_spans, min(gap) AS min_gap
        |FROM pairs WHERE gap <= 3
        |GROUP BY doc_id ORDER BY doc_id LIMIT 25""".stripMargin,

    // q255: update_by_query replayed — live docs matching `vector`
    // read back with source='flagged' (the upserted version wins by
    // construction), the `join` facet buckets the rewritten field
    "q255_update_by_query" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | vec AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | joins AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'join' AND doc_id % 37 <> 5),
        | src AS (SELECT d.doc_id,
        |   CASE WHEN vec.doc_id IS NOT NULL THEN 'flagged'
        |    ELSE d.source END AS value
        |  FROM d LEFT JOIN vec ON d.doc_id = vec.doc_id),
        | nu AS (SELECT count(*)::BIGINT AS n FROM vec)
        |SELECT value, count(DISTINCT src.doc_id) AS doc_count,
        | (SELECT n FROM nu) AS n_updated
        |FROM src JOIN joins ON src.doc_id = joins.doc_id
        |GROUP BY value ORDER BY doc_count DESC, value
        |LIMIT 10""".stripMargin,

    // q256: sliced scroll replayed — slice 0 of 2 is segment a
    // (the doc_id % 5 != 0 append) by manifest-ordinal slicing,
    // live rows, search_after cursor at 20
    "q256_sliced_scroll" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id < 150 AND doc_id % 5 <> 0
        |  AND doc_id % 37 <> 5 AND doc_id > 20
        |ORDER BY doc_id LIMIT 30""".stripMargin,

    // q257: matrix_stats replayed — the same lattice quantization,
    // the moment sums in HUGEINT (the oracle's 128-bit mirror of
    // DECIMAL(38,0)), the same fixed-order double derivations
    "q257_matrix_stats" ->
      """WITH q AS (SELECT
        |  CAST(round(l_quantity * 1.0) AS BIGINT) AS xq,
        |  CAST(round(l_extendedprice * 100.0) AS BIGINT) AS xp,
        |  CAST(round(l_discount * 100.0) AS BIGINT) AS xd
        | FROM lineitem WHERE l_quantity IS NOT NULL
        |  AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        | s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(xq) AS HUGEINT) AS s1q,
        |  CAST(sum(xq*xq) AS HUGEINT) AS s2q,
        |  CAST(sum(xp) AS HUGEINT) AS s1p,
        |  CAST(sum(xp*xp) AS HUGEINT) AS s2p,
        |  CAST(sum(xd) AS HUGEINT) AS s1d,
        |  CAST(sum(xd*xd) AS HUGEINT) AS s2d,
        |  CAST(sum(xq*xp) AS HUGEINT) AS s11qp,
        |  CAST(sum(xq*xd) AS HUGEINT) AS s11qd,
        |  CAST(sum(xp*xd) AS HUGEINT) AS s11pd
        | FROM q)
        |SELECT field_a, field_b, CAST(n AS BIGINT) AS n_docs,
        | (CAST(s1a AS DOUBLE)/CAST(n AS DOUBLE))/sca AS mean_a,
        | (CAST(s1b AS DOUBLE)/CAST(n AS DOUBLE))/scb AS mean_b,
        | (CAST(n*s2a - s1a*s1a AS DOUBLE)
        |   /CAST(n*(n-1) AS DOUBLE))/(sca*sca) AS var_a,
        | (CAST(n*s2b - s1b*s1b AS DOUBLE)
        |   /CAST(n*(n-1) AS DOUBLE))/(scb*scb) AS var_b,
        | (CAST(n*s11 - s1a*s1b AS DOUBLE)
        |   /CAST(n*(n-1) AS DOUBLE))/(sca*scb) AS covariance,
        | CAST(n*s11 - s1a*s1b AS DOUBLE)
        |  /(sqrt(CAST(n*s2a - s1a*s1a AS DOUBLE))
        |    *sqrt(CAST(n*s2b - s1b*s1b AS DOUBLE))) AS correlation
        |FROM (
        | SELECT 0 AS ord, 'l_quantity' AS field_a,
        |  'l_extendedprice' AS field_b, n, s1q AS s1a, s2q AS s2a,
        |  s1p AS s1b, s2p AS s2b, s11qp AS s11,
        |  1.0 AS sca, 100.0 AS scb FROM s
        | UNION ALL
        | SELECT 1, 'l_quantity', 'l_discount', n, s1q, s2q,
        |  s1d, s2d, s11qd, 1.0, 100.0 FROM s
        | UNION ALL
        | SELECT 2, 'l_extendedprice', 'l_discount', n, s1p, s2p,
        |  s1d, s2d, s11pd, 100.0, 100.0 FROM s)
        |ORDER BY ord""".stripMargin,

    // q258: extended_stats replayed — HUGEINT moments, the same
    // fixed-order double derivations for avg / both variances / std
    "q258_extended_stats" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | v AS (SELECT d.n_chars AS x FROM d JOIN hits USING (doc_id)
         |  WHERE d.n_chars IS NOT NULL),
         | s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  min(x) AS vmin, max(x) AS vmax,
         |  CAST(sum(x) AS HUGEINT) AS s1,
         |  CAST(sum(x*x) AS HUGEINT) AS s2 FROM v)
         |SELECT CAST(n AS BIGINT) AS n_docs, vmin, vmax,
         | CAST(s1 AS BIGINT) AS vsum,
         | CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS vavg,
         | CAST(s2 AS BIGINT) AS sum_of_squares,
         | CAST(n*s2 - s1*s1 AS DOUBLE)/CAST(n*n AS DOUBLE)
         |   AS variance_pop,
         | CAST(n*s2 - s1*s1 AS DOUBLE)/CAST(n*(n-1) AS DOUBLE)
         |   AS variance_samp,
         | sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)/CAST(n*n AS DOUBLE))
         |   AS std_dev
         |FROM s""".stripMargin
    },

    // q259: weighted_avg replayed — exact integer Σvw / Σw, one
    // closing division
    "q259_weighted_avg" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | v AS (SELECT d.n_chars AS v, d.doc_id AS w
         |  FROM d JOIN hits USING (doc_id)
         |  WHERE d.n_chars IS NOT NULL AND d.doc_id IS NOT NULL)
         |SELECT count(*) AS n_docs,
         | CAST(CAST(sum(w) AS HUGEINT) AS BIGINT) AS wsum,
         | CAST(CAST(sum(v*w) AS HUGEINT) AS DOUBLE)
         |  /CAST(CAST(sum(w) AS HUGEINT) AS DOUBLE) AS weighted_avg
         |FROM v""".stripMargin
    },

    // q260: missing replayed — the sparse append (odd ids) carries
    // no source column, so those hit docs read null
    "q260_missing_agg" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d)
         |SELECT count(DISTINCT doc_id) AS doc_count FROM p
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  AND doc_id % 2 = 1""".stripMargin
    },

    // q261: boosting replayed — the usual pivot score, a hit also
    // matching the negative term multiplies by 0.4 AFTER scoring
    "q261_boosting" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | base AS (SELECT doc_id, ${contribs.mkString(" + ")}
         |   AS score0, count(*) AS n_terms_hit
         |  FROM liv JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'")
            .mkString(", ")})
         |  GROUP BY doc_id),
         | neg AS (SELECT DISTINCT doc_id FROM liv
         |  WHERE term = 'stream')
         |SELECT b.doc_id,
         | CASE WHEN n.doc_id IS NOT NULL THEN b.score0 * 0.4
         |  ELSE b.score0 END AS score,
         | (n.doc_id IS NOT NULL) AS demoted, b.n_terms_hit
         |FROM base b LEFT JOIN neg n ON b.doc_id = n.doc_id
         |ORDER BY score DESC, b.doc_id LIMIT 20""".stripMargin
    },

    // q262: distance_feature replayed — base relevance plus the
    // half-at-pivot kernel on |n_chars − 500|
    "q262_distance_feature" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | base AS (SELECT doc_id, ${contribs.mkString(" + ")}
         |   AS score0, count(*) AS n_terms_hit
         |  FROM liv JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'")
            .mkString(", ")})
         |  GROUP BY doc_id),
         | bon AS (SELECT b.doc_id, b.score0, b.n_terms_hit,
         |   CASE WHEN d2.n_chars IS NOT NULL THEN
         |    3.0 * (200.0 / (200.0 +
         |      CAST(abs(d2.n_chars - 500) AS DOUBLE)))
         |   ELSE 0.0 END AS bonus
         |  FROM base b JOIN d d2 ON b.doc_id = d2.doc_id)
         |SELECT doc_id, score0 + bonus AS score, bonus, n_terms_hit
         |FROM bon ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q263: pinned replayed — live pins in request order (score from
    // the organic pass or 0), then pinned-free relevance
    "q263_pinned" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | scored AS (SELECT doc_id, ${contribs.mkString(" + ")}
         |   AS score FROM liv JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'")
            .mkString(", ")})
         |  GROUP BY doc_id),
         | pins AS (SELECT * FROM (VALUES
         |  (CAST(11 AS BIGINT), 0), (CAST(7 AS BIGINT), 1),
         |  (CAST(140 AS BIGINT), 2)) t(doc_id, pin_ord)),
         | livepin AS (SELECT pins.doc_id, pins.pin_ord FROM pins
         |  JOIN (SELECT DISTINCT doc_id FROM d
         |        WHERE doc_id % 37 <> 5) ld
         |  ON pins.doc_id = ld.doc_id),
         | rows0 AS (
         |  SELECT lp.doc_id, COALESCE(s.score, 0.0) AS score,
         |   TRUE AS pinned, lp.pin_ord, 0 AS bucket
         |  FROM livepin lp LEFT JOIN scored s
         |   ON lp.doc_id = s.doc_id
         |  UNION ALL
         |  SELECT s.doc_id, s.score, FALSE, NULL, 1
         |  FROM scored s WHERE s.doc_id NOT IN
         |   (SELECT doc_id FROM pins))
         |SELECT doc_id, score, pinned FROM rows0
         |ORDER BY bucket, pin_ord NULLS LAST, score DESC, doc_id
         |LIMIT 20""".stripMargin
    },

    // q264: random_score replayed — the documented Knuth hash over
    // the live hit set
    "q264_random_score" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT doc_id,
         | CAST((doc_id * 2654435761 + 42) % 2147483648 AS DOUBLE)
         |  / 2147483648.0 AS score
         |FROM hits ORDER BY score DESC, doc_id LIMIT 25""".stripMargin
    },

    // q265: geo_bounds replayed — min/max corners over the box (the
    // tile IN-list is a pruning superset, not part of the result)
    "q265_geo_bounds" ->
      s"""WITH g AS (SELECT c_custkey,
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | b AS (SELECT lat, lon FROM g
         |  WHERE lat <= 60.0 AND lat >= -20.0
         |   AND lon >= -90.0 AND lon <= 70.0)
         |SELECT max(lat) AS top, min(lon) AS "left",
         | min(lat) AS bottom, max(lon) AS "right",
         | count(*) AS n_points FROM b""".stripMargin,

    // q266: geo_centroid replayed — exact lattice sums in HUGEINT,
    // one double division per axis
    "q266_geo_centroid" ->
      s"""WITH g AS (SELECT c_custkey,
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | b AS (SELECT lat, lon FROM g
         |  WHERE lat <= 60.0 AND lat >= -20.0
         |   AND lon >= -90.0 AND lon <= 70.0),
         | q AS (SELECT CAST(round(lat*100.0) AS BIGINT) AS qla,
         |   CAST(round(lon*100.0) AS BIGINT) AS qlo FROM b),
         | s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  CAST(sum(qla) AS HUGEINT) AS sla,
         |  CAST(sum(qlo) AS HUGEINT) AS slo FROM q)
         |SELECT
         | (CAST(sla AS DOUBLE)/CAST(n AS DOUBLE))/100.0 AS lat,
         | (CAST(slo AS DOUBLE)/CAST(n AS DOUBLE))/100.0 AS lon,
         | CAST(n AS BIGINT) AS n_points FROM s""".stripMargin,

    // q268: _cat/segments replayed — the staged lifecycle's manifest
    // rows recomputed from the corpus split (append a = %5 != 0,
    // append b = %5 = 0, one tombstone batch), token totals by the
    // whitespace token count
    "q268_cat_segments" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150)
        |SELECT CAST(0 AS BIGINT) AS ord, 'seg' AS kind,
        | (SELECT count(*) FROM d WHERE doc_id % 5 <> 0) AS n_docs,
        | (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |  FROM d WHERE doc_id % 5 <> 0) AS total_len
        |UNION ALL
        |SELECT 1, 'seg',
        | (SELECT count(*) FROM d WHERE doc_id % 5 = 0),
        | (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |  FROM d WHERE doc_id % 5 = 0)
        |UNION ALL
        |SELECT 2, 'del',
        | (SELECT count(*) FROM d WHERE doc_id % 37 = 5),
        | CAST(0 AS BIGINT)
        |ORDER BY ord""".stripMargin,

    // q269: serial_diff replayed — q181's gap-filled series with a
    // lag-2 window difference (first two buckets null)
    "q269_serial_diff" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 200) * 200 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   200)) AS bucket),
         | g AS (SELECT bucket,
         |   coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket))
         |SELECT bucket, doc_count,
         | doc_count - lag(doc_count, 2) OVER (ORDER BY bucket)
         |   AS serial_diff
         |FROM g ORDER BY bucket""".stripMargin
    },

    // q270: percentiles_bucket replayed — exact nearest-rank over
    // the same gap-filled series (tied counts share their value, so
    // tie order inside the rank is immaterial)
    "q270_percentiles_bucket" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 200) * 200 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   200)) AS bucket),
         | g AS (SELECT coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket)),
         | r AS (SELECT doc_count,
         |   row_number() OVER (ORDER BY doc_count) AS rk FROM g),
         | n AS (SELECT count(*)::BIGINT AS n FROM g)
         |SELECT percent, doc_count AS value
         |FROM (VALUES (25.0), (50.0), (90.0)) t(percent)
         |CROSS JOIN n
         |JOIN r ON r.rk = CAST(ceil(percent / 100.0 *
         |  CAST(n.n AS DOUBLE)) AS INT)
         |ORDER BY percent""".stripMargin
    },

    // q271: top_metrics replayed — per lang, the source of the doc
    // ranking first by (n_chars desc, doc_id asc)
    "q271_top_metrics" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | v AS (SELECT d.lang AS value, d.n_chars AS top_sort,
         |   d.source AS metric, d.doc_id,
         |   row_number() OVER (PARTITION BY d.lang
         |     ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM d JOIN hits USING (doc_id)
         |  WHERE d.lang IS NOT NULL AND d.n_chars IS NOT NULL
         |   AND d.source IS NOT NULL)
         |SELECT value, top_sort, metric, doc_id FROM v
         |WHERE rk = 1 ORDER BY value""".stripMargin
    },

    // q272: match_bool_prefix replayed — {spark, join} score in the
    // fixed pivot order, the 'vec' dictionary expansion adds a
    // constant 1.0, prefix-only docs surface at 1.0
    "q272_match_bool_prefix" -> {
      val contribs = Seq("spark", "join").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | base AS (SELECT doc_id, ${contribs.mkString(" + ")}
         |   AS score0, count(*) AS n_terms_hit
         |  FROM liv JOIN dfreq USING (term), nd
         |  WHERE term IN ('spark', 'join') GROUP BY doc_id),
         | pfx AS (SELECT DISTINCT doc_id FROM liv
         |  WHERE term LIKE 'vec%')
         |SELECT COALESCE(b.doc_id, f.doc_id) AS doc_id,
         | COALESCE(b.score0, 0.0) +
         |  CASE WHEN f.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END
         |   AS score,
         | COALESCE(b.n_terms_hit, 0)::BIGINT AS n_terms_hit
         |FROM base b FULL JOIN pfx f ON b.doc_id = f.doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q273: significant_text replayed — first 40 hit docs by id,
    // one representative per exact text, JLH over the deduped
    // foreground vs the pre-tombstone background
    "q273_significant_text" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | pr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d),
         | p AS (SELECT DISTINCT doc_id, term FROM pr),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | hits AS (SELECT DISTINCT doc_id FROM liv
         |          WHERE term IN ($termList)
         |          ORDER BY doc_id LIMIT 40),
         | samp AS (SELECT doc_id FROM (
         |   SELECT d.doc_id, row_number() OVER (PARTITION BY d.text
         |     ORDER BY d.doc_id) AS rk
         |   FROM d JOIN hits USING (doc_id)) WHERE rk = 1),
         | f AS (SELECT count(*)::DOUBLE AS fcnt FROM samp),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | fg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
         |  FROM liv JOIN samp USING (doc_id) GROUP BY term),
         | bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_count
         |  FROM p GROUP BY term),
         | s AS (SELECT term, fg_count, bg_count,
         |   (fg_count::DOUBLE / fcnt - bg_count::DOUBLE / n_docs) *
         |   ((fg_count::DOUBLE / fcnt) / (bg_count::DOUBLE / n_docs))
         |     AS score
         |  FROM fg JOIN bg USING (term), f, nd)
         |SELECT term, fg_count, bg_count, score FROM s
         |WHERE fg_count >= 2 AND score > 0.0
         |ORDER BY score DESC, term LIMIT 15""".stripMargin
    },

    // q274: geohash_grid replayed — the identical closed-form
    // integer interleave, generated by the same loop
    "q274_geohash_grid" -> {
      val bits = 20; val lonBits = 10; val latBits = 10
      val terms = (0 until bits).map { j =>
        val (src, bi) =
          if (j % 2 == 0) ("x", lonBits - 1 - j / 2)
          else ("y", latBits - 1 - (j - 1) / 2)
        s"(($src >> $bi) % 2) * ${1L << (bits - 1 - j)}"
      }.mkString(" + ")
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      val chars = (0 until 4).map { i =>
        val sh = bits - 5 * (i + 1)
        s"substr('$alphabet', CAST((ih >> $sh) % 32 AS INT) + 1, 1)"
      }.mkString(" || ")
      s"""WITH g AS (SELECT
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | q AS (SELECT
         |  CAST(least(${(1L << lonBits) - 1}, greatest(0,
         |   floor((lon + 180.0) / 360.0 * ${(1L << lonBits).toDouble})))
         |   AS BIGINT) AS x,
         |  CAST(least(${(1L << latBits) - 1}, greatest(0,
         |   floor((lat + 90.0) / 180.0 * ${(1L << latBits).toDouble})))
         |   AS BIGINT) AS y FROM g),
         | h AS (SELECT $terms AS ih FROM q),
         | k AS (SELECT $chars AS geohash FROM h)
         |SELECT geohash, count(*) AS doc_count FROM k
         |GROUP BY geohash ORDER BY doc_count DESC, geohash
         |LIMIT 30""".stripMargin
    },

    // q280: ordered intervals replayed — the same ascending-position
    // chain joins, total-gap filter, chain count + tightest span
    "q280_intervals" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | a AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | b AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'join' AND doc_id % 37 <> 5),
        | c AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | ch AS (SELECT a.doc_id,
        |   CAST(c.pos - a.pos - 2 AS BIGINT) AS gaps,
        |   CAST(c.pos - a.pos + 1 AS BIGINT) AS span
        |  FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos > a.pos
        |  JOIN c ON b.doc_id = c.doc_id AND c.pos > b.pos)
        |SELECT doc_id, count(*) AS n_intervals,
        | min(span) AS min_span
        |FROM ch WHERE gaps <= 8
        |GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q281/q282: multi_match replayed — per-field postings (text
    // tokenized; meta = [source, lang]), per-field df/N, per-field
    // pivoted score sums met in a full-outer join; best_fields
    // combines greatest + tie·rest, most_fields sums. The CTE body
    // is shared; only the terms and the combinator differ.
    "q281_multi_match_best" ->
      multiMatchOracle(Seq("spark", "src3"),
        "greatest(coalesce(s0, 0.0::DOUBLE), coalesce(s1, " +
          "0.0::DOUBLE)) + 0.3 * ((coalesce(s0, 0.0::DOUBLE) + " +
          "coalesce(s1, 0.0::DOUBLE)) - " +
          "greatest(coalesce(s0, 0.0::DOUBLE), " +
          "coalesce(s1, 0.0::DOUBLE)))"),

    "q282_multi_match_most" ->
      multiMatchOracle(Seq("spark", "en"),
        "coalesce(s0, 0.0::DOUBLE) + coalesce(s1, 0.0::DOUBLE)"),

    // q298/q299: hybrid fusion replayed — both retrievers' rank
    // windows as row_number subsets, RRF as 1/(60+rank) terms,
    // linear as weighted minmax-normalized sums; the CTE body is
    // shared via fusionOracleCtes
    "q298_rrf" -> (fusionOracleCtes +
      """
        |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        | (CASE WHEN ra.rn IS NOT NULL
        |   THEN 1.0 / (60.0 + ra.rn::DOUBLE) ELSE 0.0::DOUBLE END) +
        | (CASE WHEN rb.rn IS NOT NULL
        |   THEN 1.0 / (60.0 + rb.rn::DOUBLE) ELSE 0.0::DOUBLE END)
        |  AS score,
        | ((CASE WHEN ra.rn IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN rb.rn IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_retrievers_hit
        |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    "q299_linear_retriever" -> (fusionOracleCtes +
      """,
        | mma AS (SELECT min(score) AS mn, max(score) AS mx FROM ra),
        | mmb AS (SELECT min(score) AS mn, max(score) AS mx FROM rb),
        | na AS (SELECT doc_id, CASE WHEN mma.mx = mma.mn THEN 1.0
        |   ELSE (score - mma.mn) / (mma.mx - mma.mn) END AS nv
        |  FROM ra, mma),
        | nb AS (SELECT doc_id, CASE WHEN mmb.mx = mmb.mn THEN 1.0
        |   ELSE (score - mmb.mn) / (mmb.mx - mmb.mn) END AS nv
        |  FROM rb, mmb)
        |SELECT coalesce(na.doc_id, nb.doc_id) AS doc_id,
        | (CASE WHEN na.nv IS NOT NULL THEN 1.0 * na.nv
        |   ELSE 0.0::DOUBLE END) +
        | (CASE WHEN nb.nv IS NOT NULL THEN 0.5 * nb.nv
        |   ELSE 0.0::DOUBLE END) AS score,
        | ((CASE WHEN na.nv IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN nb.nv IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_retrievers_hit
        |FROM na FULL OUTER JOIN nb ON na.doc_id = nb.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // q311: _analyze replayed — the dialect-shared english chain
    // (regex split, lower, stemSql, stopword drop) over the same
    // literal, positions counted BEFORE the drops (the gaps)
    "q311_analyze_api" -> {
      val stops = graft.operators.Analyzer.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH l AS (SELECT string_split_regex(
         |   lower('The Searches and Tables were Joining'),
         |   '[^a-z0-9]+') AS t),
         | toks AS (SELECT unnest(t) AS tok,
         |   generate_subscripts(t, 1) - 1 AS position FROM l),
         | an AS (SELECT position::BIGINT AS position,
         |   ${graft.operators.Analyzer.stemSql("tok")} AS token
         |  FROM toks)
         |SELECT position, token FROM an
         |WHERE token <> '' AND token NOT IN ($stops)
         |ORDER BY position, token""".stripMargin
    },

    // q310: _cat/indices replayed — each federation member's panel
    // from the corpus-half arithmetic (1 segment + 1 del batch per
    // side by staging; token totals mirror the manifest stats)
    "q310_cat_indices" ->
      """WITH d AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS tl
        |  FROM documents WHERE doc_id < 150),
        | l AS (SELECT 'left' AS idx, 1::BIGINT AS n_segments,
        |   1::BIGINT AS n_del_batches, count(*)::BIGINT AS n_docs,
        |   sum(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_deleted,
        |   (count(*) - sum(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE 0
        |    END))::BIGINT AS n_live,
        |   sum(tl)::BIGINT AS total_len
        |  FROM d WHERE doc_id < 75),
        | r AS (SELECT 'right' AS idx, 1::BIGINT, 1::BIGINT,
        |   count(*)::BIGINT,
        |   sum(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE 0 END)::BIGINT,
        |   (count(*) - sum(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE 0
        |    END))::BIGINT,
        |   sum(tl)::BIGINT
        |  FROM d WHERE doc_id >= 75)
        |SELECT * FROM l UNION ALL SELECT * FROM r
        |ORDER BY idx""".stripMargin,

    // q308: contamination rate replayed — q123's gram digests with
    // the per-doc denominator rollup, one exact division, the
    // literal-threshold verdict
    "q308_contamination_rate" ->
      """WITH toks AS (SELECT doc_id, source,
        |   string_split(text, ' ') AS t FROM documents),
        | grams AS (SELECT doc_id, source, unnest(list_distinct(
        |     [md5(array_to_string(t[i:i+3], ' '))
        |      for i in range(1, len(t) - 2)])) AS g
        |   FROM toks WHERE len(t) >= 4),
        | bench AS (SELECT DISTINCT g FROM grams
        |  WHERE source = 'src0'),
        | corp AS (SELECT doc_id, g FROM grams
        |  WHERE source <> 'src0'),
        | tot AS (SELECT doc_id, count(*)::BIGINT AS n_grams
        |  FROM corp GROUP BY doc_id),
        | hit AS (SELECT corp.doc_id, count(*)::BIGINT AS h
        |  FROM corp JOIN bench USING (g) GROUP BY corp.doc_id)
        |SELECT tot.doc_id, tot.n_grams,
        | coalesce(hit.h, 0)::BIGINT AS n_hit_grams,
        | coalesce(hit.h, 0)::DOUBLE / tot.n_grams::DOUBLE
        |  AS overlap_frac,
        | (coalesce(hit.h, 0)::DOUBLE / tot.n_grams::DOUBLE) >= 0.05
        |  AS contaminated
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    // q309: query_string multi-term leaves replayed — cust* expands
    // to `customer`, vektor~1 to `vector` (the only vocabulary
    // terms in reach), constant boost·1.0 inside the nested gating
    "q309_query_string_multiterm" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |  GROUP BY term),
        | sp AS (SELECT doc_id,
        |   sum(CASE WHEN term = 'spark' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS v
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | cu AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'customer' AND doc_id % 37 <> 5),
        | ve AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | u AS (SELECT d.doc_id, sp.v,
        |   (sp.doc_id IS NOT NULL) AS msp,
        |   (cu.doc_id IS NOT NULL) AS mcu,
        |   (ve.doc_id IS NOT NULL) AS mve
        |  FROM d LEFT JOIN sp ON d.doc_id = sp.doc_id
        |  LEFT JOIN cu ON d.doc_id = cu.doc_id
        |  LEFT JOIN ve ON d.doc_id = ve.doc_id
        |  WHERE d.doc_id % 37 <> 5)
        |SELECT doc_id,
        | (CASE WHEN msp AND mcu
        |   THEN coalesce(v, 0.0::DOUBLE) + 2.0
        |   ELSE 0.0::DOUBLE END) +
        | (CASE WHEN mve THEN 1.0 ELSE 0.0::DOUBLE END) AS score,
        | (CASE WHEN msp THEN 1 ELSE 0 END)::BIGINT AS n_terms_hit
        |FROM u WHERE (msp AND mcu) OR mve
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // q341: _mget field filtering replayed — the live id slice with
    // only the requested columns (doc 5 tombstoned, 999 absent)
    "q341_mget_fields" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (2, 5, 7, 120, 999) AND doc_id < 150
        | AND doc_id % 37 <> 5
        |ORDER BY doc_id""".stripMargin,

    // q342: suggest_mode missing replayed — 'vektor' is absent from
    // the vocabulary, so the missing gate passes and the distance-1
    // dictionary walk suggests normally
    "q342_suggest_mode" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | dict AS (SELECT term, count(*)::BIGINT AS doc_freq FROM
        |   (SELECT DISTINCT doc_id, term FROM
        |     (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM d)) GROUP BY term)
        |SELECT term, levenshtein(term, 'vektor')::BIGINT AS dist,
        | doc_freq
        |FROM dict WHERE levenshtein(term, 'vektor') <= 1
        |ORDER BY dist, doc_freq DESC, term LIMIT 5""".stripMargin,

    // q338: the fields-list query_string replayed — the must clause
    // dis_maxes to its text score (spark is absent from meta), the
    // should clause to 2× its meta score (src3 absent from text);
    // n_terms_hit counts matched (field, term) pairs
    "q338_query_string_fields" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest([source, lang]) AS term FROM d)
        |  GROUP BY term, doc_id),
        | dfm AS (SELECT term, count(*)::BIGINT AS df FROM pm
        |  GROUP BY term),
        | sp AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | s3 AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pm JOIN dfm USING (term)
        |  WHERE term = 'src3' AND doc_id % 37 <> 5 GROUP BY doc_id)
        |SELECT sp.doc_id,
        | greatest(sp.v, 0.0::DOUBLE) +
        | (CASE WHEN s3.v IS NOT NULL
        |   THEN greatest(0.0::DOUBLE, 2.0 * s3.v)
        |   ELSE 0.0::DOUBLE END) AS score,
        | ((CASE WHEN sp.v IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN s3.v IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM sp LEFT JOIN s3 ON sp.doc_id = s3.doc_id
        |ORDER BY score DESC, sp.doc_id LIMIT 25""".stripMargin,

    // q339: minimum_should_match replayed — candidates hold >= 2 of
    // the three should terms, scored by the full pivot sum
    "q339_minimum_should_match" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "((SELECT n FROM nd) / df::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
         |  GROUP BY term)
         |SELECT doc_id,
         | ${contribs.mkString(" + ")} AS score,
         | count(*)::BIGINT AS n_terms_hit
         |FROM p JOIN dfreq USING (term)
         |WHERE term IN ($termList) AND doc_id % 37 <> 5
         |GROUP BY doc_id
         |HAVING count(DISTINCT term) >= 2
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin
    },

    // q340: RAG chunking replayed — the same window starts (stopping
    // at the last covering window), list slices and joins
    "q340_rag_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE doc_id < 30),
        | s AS (SELECT doc_id, tk,
        |   unnest(generate_series(0,
        |     greatest(((len(tk) - 40 + 19) // 20) * 20, 0),
        |     20)) AS start
        |  FROM d)
        |SELECT doc_id, (start // 20)::BIGINT AS chunk_id,
        | len(tk[start + 1 : start + 40])::BIGINT AS n_tokens,
        | array_to_string(tk[start + 1 : start + 40], ' ')
        |  AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // q334: the ingest pipeline replayed — each processor one SQL
    // transformation, same order
    "q334_ingest_pipeline" ->
      """SELECT doc_id,
        | regexp_replace(lang, '[aeiou]', '_', 'g') AS lang,
        | n_chars,
        | upper(source) AS src,
        | 'v1' AS pipeline_tag,
        | len(string_split(text, ' '))::BIGINT AS n_tokens
        |FROM documents WHERE doc_id < 15
        |ORDER BY doc_id""".stripMargin,

    // q335: include/exclude replayed — whole-key regexp matches on
    // the bucket keys before the top-k
    "q335_terms_include" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value,
         | count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |WHERE source IS NOT NULL
         | AND regexp_full_match(source, 'src1.*')
         | AND NOT regexp_full_match(source, '.*3')
         |GROUP BY source
         |ORDER BY doc_count DESC, value LIMIT 10""".stripMargin
    },

    // q336: the retriever tree replayed — the q299 linear fusion
    // re-windowed to 30, a vector relevance window, rrf on top
    "q336_retriever_tree" -> (fusionOracleCtes +
      """,
        | mma AS (SELECT min(score) AS mn, max(score) AS mx FROM ra),
        | mmb AS (SELECT min(score) AS mn, max(score) AS mx FROM rb),
        | na AS (SELECT doc_id, CASE WHEN mma.mx = mma.mn THEN 1.0
        |   ELSE (score - mma.mn) / (mma.mx - mma.mn) END AS nv
        |  FROM ra, mma),
        | nb AS (SELECT doc_id, CASE WHEN mmb.mx = mmb.mn THEN 1.0
        |   ELSE (score - mmb.mn) / (mmb.mx - mmb.mn) END AS nv
        |  FROM rb, mmb),
        | lin AS (SELECT coalesce(na.doc_id, nb.doc_id) AS doc_id,
        |  (CASE WHEN na.nv IS NOT NULL THEN 1.0 * na.nv
        |    ELSE 0.0::DOUBLE END) +
        |  (CASE WHEN nb.nv IS NOT NULL THEN 0.5 * nb.nv
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM na FULL OUTER JOIN nb ON na.doc_id = nb.doc_id),
        | lin30 AS (SELECT * FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |  FROM lin) WHERE rn <= 30),
        | vq AS (SELECT doc_id,
        |   sum(CASE WHEN term = 'vector' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | vr30 AS (SELECT * FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |  FROM vq) WHERE rn <= 30)
        |SELECT coalesce(lin30.doc_id, vr30.doc_id) AS doc_id,
        | (CASE WHEN lin30.rn IS NOT NULL
        |   THEN 1.0 / (60.0 + lin30.rn::DOUBLE) ELSE 0.0::DOUBLE END) +
        | (CASE WHEN vr30.rn IS NOT NULL
        |   THEN 1.0 / (60.0 + vr30.rn::DOUBLE) ELSE 0.0::DOUBLE END)
        |  AS score,
        | ((CASE WHEN lin30.rn IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vr30.rn IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_retrievers_hit
        |FROM lin30 FULL OUTER JOIN vr30
        | ON lin30.doc_id = vr30.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // q332: the filtered alias replayed — the standard scored search
    // restricted to live docs satisfying the alias filter (lang=en)
    "q332_filtered_alias" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "((SELECT n FROM nd) / df::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
         |  GROUP BY term),
         | en AS (SELECT doc_id FROM d WHERE lang = 'en'
         |  AND doc_id % 37 <> 5)
         |SELECT p.doc_id,
         | ${contribs.mkString(" + ")} AS score,
         | count(*)::BIGINT AS n_terms_hit
         |FROM p JOIN dfreq USING (term)
         | JOIN en ON p.doc_id = en.doc_id
         |WHERE term IN ($termList) AND p.doc_id % 37 <> 5
         |GROUP BY p.doc_id
         |ORDER BY score DESC, p.doc_id LIMIT 20""".stripMargin
    },

    // q333: terms partition paging replayed — the same md5-hex-prefix
    // partition hash over the bucket keys
    "q333_terms_partition" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value,
         | count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |FROM d JOIN hits USING (doc_id)
         |WHERE source IS NOT NULL
         | AND ((((strpos('0123456789abcdef',
         |     substring(md5(source::VARCHAR), 1, 1)) - 1) * 16 +
         |    (strpos('0123456789abcdef',
         |     substring(md5(source::VARCHAR), 2, 1)) - 1)) * 16 +
         |   (strpos('0123456789abcdef',
         |    substring(md5(source::VARCHAR), 3, 1)) - 1)) * 16 +
         |  (strpos('0123456789abcdef',
         |   substring(md5(source::VARCHAR), 4, 1)) - 1)) % 3 = 1
         |GROUP BY source
         |ORDER BY doc_count DESC, value LIMIT 10""".stripMargin
    },

    // q329: categorize_text replayed — the (token count, first
    // token) anchor groups, per-position agreement, string_agg
    // templates in position order
    "q329_categorize_text" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | b AS (SELECT d.doc_id, string_split(text, ' ') AS tk
         |  FROM d JOIN hits USING (doc_id)),
         | b2 AS (SELECT doc_id, tk, len(tk)::BIGINT AS n, tk[1] AS f
         |  FROM b WHERE len(tk) > 0),
         | px AS (SELECT n, f,
         |   generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS tok
         |  FROM b2),
         | slots AS (SELECT n, f, pos,
         |   count(DISTINCT tok) AS ndist, min(tok) AS one
         |  FROM px GROUP BY 1, 2, 3),
         | tpl AS (SELECT n, f,
         |   string_agg(CASE WHEN ndist = 1 THEN one ELSE '*' END,
         |     ' ' ORDER BY pos) AS category
         |  FROM slots GROUP BY n, f),
         | cnt AS (SELECT n, f, count(*)::BIGINT AS doc_count
         |  FROM b2 GROUP BY n, f)
         |SELECT category, doc_count FROM cnt JOIN tpl USING (n, f)
         |ORDER BY doc_count DESC, category LIMIT 15""".stripMargin
    },

    // q330: random_sampler replayed — the same seeded Knuth hash
    // under the exact dyadic threshold (0.25·2³¹ = 536870912), the
    // estimate one double divide
    "q330_random_sampler" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | s AS (SELECT d.doc_id, n_chars FROM d JOIN hits USING (doc_id)
         |  WHERE n_chars IS NOT NULL
         |   AND ((d.doc_id % 2147483648) * 2654435761 + 7)
         |     % 2147483648 < 536870912)
         |SELECT count(*)::BIGINT AS n_sampled,
         | count(*)::DOUBLE / 0.25 AS doc_count_estimate,
         | min(n_chars) AS vmin, max(n_chars) AS vmax,
         | sum(n_chars)::BIGINT AS vsum
         |FROM s""".stripMargin
    },

    // q331: the funnel replayed — per-user earliest anchors chained
    // under the whole-funnel window, one division per stage
    "q331_funnel" ->
      """WITH s0 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        | s1 AS (SELECT e.user_id AS u, min(s0.t0) AS t0,
        |   min(e.ts) AS t1
        |  FROM events e JOIN s0 ON e.user_id = s0.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= s0.t0
        |   AND e.ts <= s0.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'error' AND e.ts >= s1.t1
        |   AND e.ts <= s1.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | n AS (SELECT (SELECT count(*) FROM s0)::BIGINT AS n0,
        |   (SELECT count(*) FROM s1)::BIGINT AS n1,
        |   (SELECT count(*) FROM s2)::BIGINT AS n2)
        |SELECT 0::BIGINT AS stage_idx, 'signup' AS stage,
        |  n0 AS n_users,
        |  CASE WHEN n0 = 0 THEN 0.0::DOUBLE
        |   ELSE n0::DOUBLE / n0::DOUBLE END AS conversion FROM n
        |UNION ALL
        |SELECT 1::BIGINT, 'purchase', n1,
        |  CASE WHEN n0 = 0 THEN 0.0::DOUBLE
        |   ELSE n1::DOUBLE / n0::DOUBLE END FROM n
        |UNION ALL
        |SELECT 2::BIGINT, 'error', n2,
        |  CASE WHEN n0 = 0 THEN 0.0::DOUBLE
        |   ELSE n2::DOUBLE / n0::DOUBLE END FROM n
        |ORDER BY stage_idx""".stripMargin,

    // q351: scripted_metric replayed — the identical non-commutative
    // fold over list(v ORDER BY doc_id), proving the pinned-order
    // contract cross-engine
    "q351_scripted_metric" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | b AS (SELECT d.doc_id, lang AS bucket, n_chars
         |  FROM d JOIN hits USING (doc_id)
         |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL)
         |SELECT bucket, count(*)::BIGINT AS doc_count,
         | list_reduce([0.0::DOUBLE] ||
         |   list(n_chars::DOUBLE ORDER BY doc_id),
         |   (a, x) -> a * 0.5 + x) AS value
         |FROM b GROUP BY bucket
         |ORDER BY bucket LIMIT 100""".stripMargin
    },

    // q356: frequent_item_sets replayed — the identical exact
    // Apriori: top-8 frequent singletons, level joins, the same
    // closedness filter (a set dies when a computed size+1 superset
    // carries equal support)
    "q356_frequent_item_sets" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id < 150),
        | tk AS (SELECT DISTINCT doc_id,
        |   unnest(string_split(text, ' ')) AS term FROM d),
        | f1 AS (SELECT term, count(*)::BIGINT AS support FROM tk
        |  GROUP BY 1 HAVING count(*) >= 90
        |  ORDER BY support DESC, term LIMIT 8),
        | dt AS (SELECT tk.doc_id, tk.term FROM tk
        |  WHERE tk.term IN (SELECT term FROM f1)),
        | p AS (SELECT a.term AS t1, b.term AS t2,
        |   count(*)::BIGINT AS support
        |  FROM dt a JOIN dt b
        |   ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING count(*) >= 90),
        | t3 AS (SELECT a.term AS t1, b.term AS t2, c.term AS t3,
        |   count(*)::BIGINT AS support
        |  FROM dt a JOIN dt b
        |   ON a.doc_id = b.doc_id AND a.term < b.term
        |  JOIN p ON p.t1 = a.term AND p.t2 = b.term
        |  JOIN dt c ON c.doc_id = a.doc_id AND c.term > b.term
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 90),
        | ps AS (SELECT t1 AS a, support FROM p
        |  UNION SELECT t2, support FROM p),
        | c1 AS (SELECT term AS t1, support FROM f1
        |  WHERE NOT EXISTS (SELECT 1 FROM ps
        |   WHERE ps.a = f1.term AND ps.support = f1.support)),
        | ts AS (SELECT t1 AS a, t2 AS b, support FROM t3
        |  UNION SELECT t1, t3, support FROM t3
        |  UNION SELECT t2, t3, support FROM t3),
        | c2 AS (SELECT p.t1, p.t2, p.support FROM p
        |  WHERE NOT EXISTS (SELECT 1 FROM ts
        |   WHERE ts.a = p.t1 AND ts.b = p.t2
        |    AND ts.support = p.support)),
        | allsets AS (
        |  SELECT t1 AS items, 1::BIGINT AS set_size, support FROM c1
        |  UNION ALL
        |  SELECT t1 || ' ' || t2, 2::BIGINT, support FROM c2
        |  UNION ALL
        |  SELECT t1 || ' ' || t2 || ' ' || t3, 3::BIGINT, support
        |  FROM t3)
        |SELECT items, set_size, support FROM allsets
        |ORDER BY support DESC, set_size, items LIMIT 60""".stripMargin,

    // q350: the EQL sequence replayed — q331's greedy anchor CTEs
    // plus the event-id tiebreak at each anchor timestamp; only
    // users reaching the last stage emit their chain rows
    "q350_eql_sequence" ->
      """WITH a0 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        | e0 AS (SELECT e.user_id AS u, a0.t0,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a0 ON e.user_id = a0.u AND e.ts = a0.t0
        |  WHERE e.event_type = 'signup' GROUP BY 1, 2),
        | a1 AS (SELECT e.user_id AS u, min(e0.t0) AS t0,
        |   min(e.ts) AS t1
        |  FROM events e JOIN e0 ON e.user_id = e0.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= e0.t0
        |   AND e.ts <= e0.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e1 AS (SELECT e.user_id AS u, a1.t0, a1.t1,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a1 ON e.user_id = a1.u AND e.ts = a1.t1
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2, 3),
        | a2 AS (SELECT e.user_id AS u, min(e1.t1) AS t1,
        |   min(e.ts) AS t2
        |  FROM events e JOIN e1 ON e.user_id = e1.u
        |  WHERE e.event_type = 'error' AND e.ts >= e1.t1
        |   AND e.ts <= e1.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e2 AS (SELECT e.user_id AS u, a2.t2,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a2 ON e.user_id = a2.u AND e.ts = a2.t2
        |  WHERE e.event_type = 'error' GROUP BY 1, 2),
        | done AS (SELECT u FROM e2)
        |SELECT u AS user_id, stage_idx, stage, event_id, ts
        |FROM (
        | SELECT e0.u, 0::BIGINT AS stage_idx, 'signup' AS stage,
        |  e0.eid AS event_id, e0.t0 AS ts
        | FROM e0 WHERE e0.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e1.u, 1::BIGINT, 'purchase', e1.eid, e1.t1
        | FROM e1 WHERE e1.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e2.u, 2::BIGINT, 'error', e2.eid, e2.t2
        | FROM e2)
        |ORDER BY user_id, stage_idx""".stripMargin,

    // q353: until replayed — q350's chains minus users holding a
    // click event strictly after the stage-0 anchor and at/before
    // the final anchor (the pinned (t0, t_last] kill window)
    "q353_eql_until" ->
      """WITH a0 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        | e0 AS (SELECT e.user_id AS u, a0.t0,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a0 ON e.user_id = a0.u AND e.ts = a0.t0
        |  WHERE e.event_type = 'signup' GROUP BY 1, 2),
        | a1 AS (SELECT e.user_id AS u, min(e0.t0) AS t0,
        |   min(e.ts) AS t1
        |  FROM events e JOIN e0 ON e.user_id = e0.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= e0.t0
        |   AND e.ts <= e0.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e1 AS (SELECT e.user_id AS u, a1.t0, a1.t1,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a1 ON e.user_id = a1.u AND e.ts = a1.t1
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2, 3),
        | a2 AS (SELECT e.user_id AS u, min(e1.t1) AS t1,
        |   min(e.ts) AS t2
        |  FROM events e JOIN e1 ON e.user_id = e1.u
        |  WHERE e.event_type = 'error' AND e.ts >= e1.t1
        |   AND e.ts <= e1.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e2 AS (SELECT e.user_id AS u, a2.t2,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a2 ON e.user_id = a2.u AND e.ts = a2.t2
        |  WHERE e.event_type = 'error' GROUP BY 1, 2),
        | done AS (SELECT e2.u FROM e2 JOIN e0 ON e2.u = e0.u
        |  WHERE NOT EXISTS (SELECT 1 FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = e2.u
        |    AND c.ts > e0.t0 AND c.ts <= e2.t2))
        |SELECT u AS user_id, stage_idx, stage, event_id, ts
        |FROM (
        | SELECT e0.u, 0::BIGINT AS stage_idx, 'signup' AS stage,
        |  e0.eid AS event_id, e0.t0 AS ts
        | FROM e0 WHERE e0.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e1.u, 1::BIGINT, 'purchase', e1.eid, e1.t1
        | FROM e1 WHERE e1.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e2.u, 2::BIGINT, 'error', e2.eid, e2.t2
        | FROM e2 WHERE e2.u IN (SELECT u FROM done))
        |ORDER BY user_id, stage_idx""".stripMargin,

    // q354: per-stage where replayed — q350's CTEs with the
    // purchase stage gated on value >= 50 in BOTH the anchor scan
    // and the tie-break id pick (failing events vanish entirely)
    "q354_eql_where" ->
      """WITH a0 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        | e0 AS (SELECT e.user_id AS u, a0.t0,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a0 ON e.user_id = a0.u AND e.ts = a0.t0
        |  WHERE e.event_type = 'signup' GROUP BY 1, 2),
        | a1 AS (SELECT e.user_id AS u, min(e0.t0) AS t0,
        |   min(e.ts) AS t1
        |  FROM events e JOIN e0 ON e.user_id = e0.u
        |  WHERE e.event_type = 'purchase' AND e.value >= 50
        |   AND e.ts >= e0.t0
        |   AND e.ts <= e0.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e1 AS (SELECT e.user_id AS u, a1.t0, a1.t1,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a1 ON e.user_id = a1.u AND e.ts = a1.t1
        |  WHERE e.event_type = 'purchase' AND e.value >= 50
        |  GROUP BY 1, 2, 3),
        | a2 AS (SELECT e.user_id AS u, min(e1.t1) AS t1,
        |   min(e.ts) AS t2
        |  FROM events e JOIN e1 ON e.user_id = e1.u
        |  WHERE e.event_type = 'error' AND e.ts >= e1.t1
        |   AND e.ts <= e1.t0 + INTERVAL 1209600 SECOND
        |  GROUP BY 1),
        | e2 AS (SELECT e.user_id AS u, a2.t2,
        |   min(e.event_id) AS eid
        |  FROM events e JOIN a2 ON e.user_id = a2.u AND e.ts = a2.t2
        |  WHERE e.event_type = 'error' GROUP BY 1, 2),
        | done AS (SELECT u FROM e2)
        |SELECT u AS user_id, stage_idx, stage, event_id, ts
        |FROM (
        | SELECT e0.u, 0::BIGINT AS stage_idx, 'signup' AS stage,
        |  e0.eid AS event_id, e0.t0 AS ts
        | FROM e0 WHERE e0.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e1.u, 1::BIGINT, 'purchase', e1.eid, e1.t1
        | FROM e1 WHERE e1.u IN (SELECT u FROM done)
        | UNION ALL
        | SELECT e2.u, 2::BIGINT, 'error', e2.eid, e2.t2
        | FROM e2)
        |ORDER BY user_id, stage_idx""".stripMargin,

    // q357: change_point replayed — identical exact integer prefix
    // sums, identical fixed-shape double pipeline (D²/(n·nl·nr)),
    // earliest-split tiebreak
    "q357_change_point" ->
      """WITH b AS (SELECT
        |   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |    AS bucket,
        |   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        | s AS (SELECT bucket, v,
        |   row_number() OVER (ORDER BY bucket) AS idx,
        |   sum(v) OVER (ORDER BY bucket
        |     ROWS UNBOUNDED PRECEDING) AS sl,
        |   count(*) OVER () AS n, sum(v) OVER () AS stot,
        |   lead(bucket) OVER (ORDER BY bucket) AS nxt
        |  FROM b),
        | c AS (SELECT nxt, idx AS nl, n - idx AS nr, sl, stot, n,
        |   CAST((n - idx) * sl - idx * (stot - sl) AS DOUBLE) AS d
        |  FROM s WHERE idx >= 2 AND idx <= n - 2)
        |SELECT nxt AS change_bucket, nl::BIGINT AS n_before,
        | nr::BIGINT AS n_after,
        | CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) / 100.0
        |  AS mean_before,
        | CAST(stot - sl AS DOUBLE) / CAST(nr AS DOUBLE) / 100.0
        |  AS mean_after,
        | d * d / CAST(n * nl * nr AS DOUBLE) AS gain
        |FROM c ORDER BY gain DESC, nl LIMIT 1""".stripMargin,

    // q324: rate replayed — the q249 gap-filled month series with
    // the exact per-bucket day count as divisor
    "q324_rate_agg" ->
      """WITH b AS (SELECT date_trunc('month', o_orderdate) AS bucket,
        |   count(*)::BIGINT AS doc_count
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        | bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi
        |  FROM b),
        | allb AS (SELECT unnest(generate_series(lo, hi,
        |   INTERVAL 1 MONTH)) AS bucket FROM bounds),
        | f AS (SELECT allb.bucket,
        |   COALESCE(doc_count, 0) AS doc_count
        |  FROM allb LEFT JOIN b ON allb.bucket = b.bucket)
        |SELECT bucket, doc_count,
        | date_diff('day', bucket::DATE,
        |   (bucket + INTERVAL 1 MONTH)::DATE)::BIGINT AS bucket_days,
        | doc_count::DOUBLE / date_diff('day', bucket::DATE,
        |   (bucket + INTERVAL 1 MONTH)::DATE)::DOUBLE AS rate_per_day
        |FROM f ORDER BY bucket""".stripMargin,

    // q325: filters + other_bucket replayed — q233's keyed counts
    // plus live-total minus matched-any under '_other_'
    "q325_filters_other" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | qt AS (SELECT * FROM (VALUES ('sparkish', 'spark'),
        |   ('joiny', 'join'), ('joiny', 'vector'),
        |   ('none', 'zz-absent-term')) t(name, term)),
        | counts AS (SELECT name,
        |   count(DISTINCT doc_id)::BIGINT AS doc_count
        |  FROM p JOIN qt USING (term) WHERE doc_id % 37 <> 5
        |  GROUP BY name),
        | names AS (SELECT * FROM (VALUES ('sparkish'), ('joiny'),
        |   ('none')) t(name)),
        | keyed AS (SELECT name,
        |   coalesce(doc_count, 0)::BIGINT AS doc_count
        |  FROM names LEFT JOIN counts USING (name)),
        | other AS (SELECT '_other_' AS name,
        |   ((SELECT count(*) FROM d WHERE doc_id % 37 <> 5) -
        |    (SELECT count(DISTINCT doc_id) FROM p
        |     WHERE term IN ('spark', 'join', 'vector', 'zz-absent-term')
        |      AND doc_id % 37 <> 5))::BIGINT AS doc_count)
        |SELECT * FROM keyed UNION ALL SELECT * FROM other
        |ORDER BY name""".stripMargin,

    // q326: metric-ordered terms agg replayed — q193's stats frame
    // ordered by the exact vavg instead of doc_count
    "q326_terms_order_metric" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5)
         |SELECT source AS value,
         | count(DISTINCT d.doc_id) AS doc_count,
         | min(n_chars) AS vmin, max(n_chars) AS vmax,
         | sum(n_chars)::BIGINT AS vsum,
         | sum(n_chars)::DOUBLE / count(n_chars)::DOUBLE AS vavg
         |FROM d JOIN hits USING (doc_id)
         |GROUP BY source ORDER BY vavg DESC, value LIMIT 10"""
        .stripMargin
    },

    // q327: variable_width_histogram replayed — per-distinct-value
    // cumulative split, HUGEINT centroid moments mirroring the
    // DECIMAL(38,0) accumulators
    "q327_variable_width_histogram" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | vals AS (SELECT n_chars AS value FROM d
         |  JOIN hits USING (doc_id) WHERE n_chars IS NOT NULL),
         | pv AS (SELECT value, count(*)::BIGINT AS cnt FROM vals
         |  GROUP BY value),
         | cum AS (SELECT value, cnt,
         |   coalesce(sum(cnt) OVER (ORDER BY value
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0)::BIGINT AS cum_before,
         |   (SELECT sum(cnt) FROM pv)::BIGINT AS n FROM pv)
         |SELECT (cum_before * 5) // n AS bkey,
         | sum(cnt)::BIGINT AS doc_count,
         | min(value) AS vmin, max(value) AS vmax,
         | sum(value::HUGEINT * cnt)::DOUBLE / sum(cnt)::DOUBLE
         |  AS centroid
         |FROM cum GROUP BY 1 ORDER BY bkey"""
        .stripMargin
    },

    // q328: cross_fields replayed — spark blends to the text df,
    // de to the meta df (the other family holds neither), best tf
    // once under the blended weight, terms sum in query order
    "q328_multi_match_cross" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfsp AS (SELECT count(*)::BIGINT AS df FROM pt
        |  WHERE term = 'spark'),
        | dfde AS (SELECT count(*)::BIGINT AS df FROM d
        |  WHERE lang = 'de'),
        | sp AS (SELECT doc_id, tf FROM pt
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | de AS (SELECT doc_id, 1::BIGINT AS tf FROM d
        |  WHERE lang = 'de' AND doc_id % 37 <> 5),
        | ids AS (SELECT doc_id FROM sp UNION SELECT doc_id FROM de)
        |SELECT i.doc_id,
        | coalesce(sp.tf, 0)::DOUBLE *
        |  ((SELECT n FROM nd) / (SELECT df FROM dfsp)::DOUBLE) +
        | coalesce(de.tf, 0)::DOUBLE *
        |  ((SELECT n FROM nd) / (SELECT df FROM dfde)::DOUBLE)
        |  AS score,
        | ((CASE WHEN sp.tf IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN de.tf IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_fields_hit
        |FROM ids i LEFT JOIN sp ON i.doc_id = sp.doc_id
        | LEFT JOIN de ON i.doc_id = de.doc_id
        |ORDER BY score DESC, i.doc_id LIMIT 25""".stripMargin,

    // q322: normalize replayed — the same gap-filled doc_count
    // series, one exact long division per bucket against the series
    // sum
    "q322_normalize_bucket" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 100) * 100 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   100)) AS bucket),
         | filled AS (SELECT bucket,
         |   coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket))
         |SELECT bucket, doc_count,
         | doc_count::DOUBLE /
         |  (SELECT sum(doc_count) FROM filled)::DOUBLE AS normalized
         |FROM filled ORDER BY bucket""".stripMargin
    },

    // q323: moving_percentiles replayed — the trailing-3 window as a
    // dense-bucket range self-join, the interpolation mirrored
    // op-for-op (long subtraction, one multiply, one add)
    "q323_moving_percentiles" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |       FROM d),
         | hits AS (SELECT DISTINCT doc_id FROM p
         |          WHERE term IN ($termList) AND doc_id % 37 <> 5),
         | c AS (SELECT (n_chars // 100) * 100 AS bucket,
         |   count(DISTINCT d.doc_id)::BIGINT AS doc_count
         |  FROM d JOIN hits USING (doc_id) GROUP BY 1),
         | b AS (SELECT unnest(generate_series(
         |   (SELECT min(bucket) FROM c), (SELECT max(bucket) FROM c),
         |   100)) AS bucket),
         | filled AS (SELECT bucket,
         |   coalesce(doc_count, 0)::BIGINT AS doc_count
         |  FROM b LEFT JOIN c USING (bucket)),
         | w AS (SELECT f1.bucket, f1.doc_count,
         |   list(f2.doc_count ORDER BY f2.doc_count) AS a
         |  FROM filled f1 JOIN filled f2
         |   ON f2.bucket BETWEEN f1.bucket - 200 AND f1.bucket
         |  GROUP BY f1.bucket, f1.doc_count)
         |SELECT bucket, doc_count,
         | a[CAST(floor(0.5 * (len(a) - 1)) AS INT) + 1]::DOUBLE +
         |  (a[CAST(ceil(0.5 * (len(a) - 1)) AS INT) + 1] -
         |   a[CAST(floor(0.5 * (len(a) - 1)) AS INT) + 1])::DOUBLE *
         |  (0.5 * (len(a) - 1) - floor(0.5 * (len(a) - 1)))
         |  AS moving_pct
         |FROM w ORDER BY bucket""".stripMargin
    },

    // q321: completion contexts replayed — live docs in the 'en'
    // context, per-source max weight (the cross-segment dedup)
    "q321_completion_contexts" ->
      """SELECT source AS input, max(n_chars)::BIGINT AS weight
        |FROM documents
        |WHERE doc_id < 150 AND doc_id % 37 <> 5 AND lang = 'en'
        | AND source LIKE 'src%' AND source IS NOT NULL
        | AND n_chars IS NOT NULL
        |GROUP BY source
        |ORDER BY weight DESC, input LIMIT 10""".stripMargin,

    // q317: multi_match phrase replayed — the exact adjacency
    // anchors on the text family (meta never matches the phrase);
    // score = n_occ · (N / live phrase df), the pinned pseudo-term
    // convention; the dis_max fold with one matching field is
    // s + tie·(s − s)
    "q317_multi_match_phrase" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | a AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | b AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'join' AND doc_id % 37 <> 5),
        | ph AS (SELECT a.doc_id, count(*)::BIGINT AS n_occ
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |   AND b.pos = a.pos + 1
        |  GROUP BY a.doc_id),
        | dfp AS (SELECT count(*)::DOUBLE AS c FROM ph)
        |SELECT doc_id,
        | n_occ::DOUBLE * ((SELECT n FROM nd) / (SELECT c FROM dfp))
        |  AS score,
        | 1::BIGINT AS n_fields_hit
        |FROM ph ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // q318: multi_match phrase_prefix replayed — the meta family's
    // src3-then-d* adjacency is exactly source='src3' ∧ lang LIKE
    // 'd%' (source at position 0, lang at 1); text never matches
    // (src3 is not in its vocabulary)
    "q318_mm_phrase_prefix" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | m AS (SELECT doc_id FROM d
        |  WHERE source = 'src3' AND lang LIKE 'd%'
        |   AND doc_id % 37 <> 5),
        | dfp AS (SELECT count(*)::DOUBLE AS c FROM m)
        |SELECT doc_id,
        | 1.0::DOUBLE * ((SELECT n FROM nd) / (SELECT c FROM dfp))
        |  AS score,
        | 1::BIGINT AS n_fields_hit
        |FROM m ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // q319: match fuzziness replayed — vektor→vector, joim→join
    // (the fixture vocabulary's only distance-1 expansions), exact
    // tf·(N/df) per pair in sorted pair order (joim < vektor)
    "q319_match_fuzzy" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | jc AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'join' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | vc AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | ids AS (SELECT doc_id FROM jc UNION SELECT doc_id FROM vc)
        |SELECT i.doc_id,
        | coalesce(jc.v, 0.0::DOUBLE) + coalesce(vc.v, 0.0::DOUBLE)
        |  AS score,
        | ((CASE WHEN vc.v IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN jc.v IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM ids i LEFT JOIN jc ON i.doc_id = jc.doc_id
        | LEFT JOIN vc ON i.doc_id = vc.doc_id
        |ORDER BY score DESC, i.doc_id LIMIT 25""".stripMargin,

    // q320: multi_match fuzziness replayed — text expands
    // vektor→vector; meta expands src3 to every source within one
    // edit (levenshtein in the oracle mirrors the SymSpell-blocked
    // walk's exact verify), so a matching doc's meta score is
    // N/df(its source); the dis_max combine keeps the engine's
    // exact expression shape (total − best computed, not
    // simplified)
    "q320_multi_match_fuzzy" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | tv AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | dfs AS (SELECT source, count(*)::BIGINT AS df FROM d
        |  GROUP BY source),
        | mv AS (SELECT d.doc_id,
        |   1.0::DOUBLE * ((SELECT n FROM nd) / dfs.df::DOUBLE) AS v
        |  FROM d JOIN dfs USING (source)
        |  WHERE d.doc_id % 37 <> 5
        |   AND levenshtein(d.source, 'src3') <= 1),
        | ids AS (SELECT doc_id FROM tv UNION SELECT doc_id FROM mv),
        | u AS (SELECT i.doc_id, coalesce(tv.v, 0.0::DOUBLE) AS st,
        |   coalesce(mv.v, 0.0::DOUBLE) AS sm,
        |   (tv.v IS NOT NULL) AS mt, (mv.v IS NOT NULL) AS mm
        |  FROM ids i LEFT JOIN tv ON i.doc_id = tv.doc_id
        |  LEFT JOIN mv ON i.doc_id = mv.doc_id)
        |SELECT doc_id,
        | greatest(st, sm) +
        |  0.3 * ((st + sm) - greatest(st, sm)) AS score,
        | ((CASE WHEN mt THEN 1 ELSE 0 END) +
        |  (CASE WHEN mm THEN 1 ELSE 0 END))::BIGINT
        |  AS n_fields_hit
        |FROM u ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // q314: the nested query replayed — sub-documents derived by the
    // fixture's striping rule (ord = pos mod 3, author = 'a' +
    // (parent+ord) mod 7), scored with the NESTED family's own
    // stats (N = 3·|parents|, df over sub-documents), the term and
    // the author filter required on the SAME sub-document (block
    // isolation), max child score per live parent
    "q314_nested_query" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | np AS (SELECT doc_id AS parent_id, (pos % 3) AS ord, term,
        |   count(*)::BIGINT AS tf
        |  FROM toks GROUP BY 1, 2, 3),
        | nn AS (SELECT (3 * count(*))::DOUBLE AS n FROM d),
        | dfn AS (SELECT term, count(*)::BIGINT AS df FROM np
        |  GROUP BY term),
        | h AS (SELECT parent_id, ord, sum(CASE WHEN term = 'vector'
        |   THEN tf::DOUBLE * ((SELECT n FROM nn) / df::DOUBLE)
        |   ELSE 0.0::DOUBLE END) AS score
        |  FROM np JOIN dfn USING (term)
        |  WHERE term = 'vector' AND parent_id % 37 <> 5
        |   AND (parent_id + ord) % 7 = 3
        |  GROUP BY parent_id, ord)
        |SELECT parent_id AS doc_id, max(score) AS score,
        | count(*)::BIGINT AS n_nested_matched
        |FROM h GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q315: nested inner_hits replayed — the matched sub-documents
    // themselves with their block ordinal
    "q315_nested_inner_hits" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | np AS (SELECT doc_id AS parent_id, (pos % 3) AS ord, term,
        |   count(*)::BIGINT AS tf
        |  FROM toks GROUP BY 1, 2, 3),
        | nn AS (SELECT (3 * count(*))::DOUBLE AS n FROM d),
        | dfn AS (SELECT term, count(*)::BIGINT AS df FROM np
        |  GROUP BY term),
        | h AS (SELECT parent_id, ord, sum(CASE WHEN term = 'vector'
        |   THEN tf::DOUBLE * ((SELECT n FROM nn) / df::DOUBLE)
        |   ELSE 0.0::DOUBLE END) AS score
        |  FROM np JOIN dfn USING (term)
        |  WHERE term = 'vector' AND parent_id % 37 <> 5
        |   AND (parent_id + ord) % 7 = 3
        |  GROUP BY parent_id, ord)
        |SELECT parent_id AS doc_id, ord, score FROM h
        |ORDER BY score DESC, doc_id, ord LIMIT 40""".stripMargin,

    // q343/q344: nested score_mode sum/avg replayed — the matched
    // sub-document scores fold in block-ordinal order (list_reduce
    // over list(score ORDER BY ord), the engine's pinned fold); avg
    // divides that sum once by the exact match count
    "q343_nested_score_sum" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | np AS (SELECT doc_id AS parent_id, (pos % 3) AS ord, term,
        |   count(*)::BIGINT AS tf
        |  FROM toks GROUP BY 1, 2, 3),
        | nn AS (SELECT (3 * count(*))::DOUBLE AS n FROM d),
        | dfn AS (SELECT term, count(*)::BIGINT AS df FROM np
        |  GROUP BY term),
        | h AS (SELECT parent_id, ord, sum(CASE WHEN term = 'vector'
        |   THEN tf::DOUBLE * ((SELECT n FROM nn) / df::DOUBLE)
        |   ELSE 0.0::DOUBLE END) AS score
        |  FROM np JOIN dfn USING (term)
        |  WHERE term = 'vector' AND parent_id % 37 <> 5
        |  GROUP BY parent_id, ord)
        |SELECT parent_id AS doc_id,
        | list_reduce([0.0::DOUBLE] || list(score ORDER BY ord),
        |   (a, b) -> a + b) AS score,
        | count(*)::BIGINT AS n_nested_matched
        |FROM h GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    "q344_nested_score_avg" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | np AS (SELECT doc_id AS parent_id, (pos % 3) AS ord, term,
        |   count(*)::BIGINT AS tf
        |  FROM toks GROUP BY 1, 2, 3),
        | nn AS (SELECT (3 * count(*))::DOUBLE AS n FROM d),
        | dfn AS (SELECT term, count(*)::BIGINT AS df FROM np
        |  GROUP BY term),
        | h AS (SELECT parent_id, ord, sum(CASE WHEN term = 'vector'
        |   THEN tf::DOUBLE * ((SELECT n FROM nn) / df::DOUBLE)
        |   ELSE 0.0::DOUBLE END) AS score
        |  FROM np JOIN dfn USING (term)
        |  WHERE term = 'vector' AND parent_id % 37 <> 5
        |  GROUP BY parent_id, ord)
        |SELECT parent_id AS doc_id,
        | list_reduce([0.0::DOUBLE] || list(score ORDER BY ord),
        |   (a, b) -> a + b) / count(*) AS score,
        | count(*)::BIGINT AS n_nested_matched
        |FROM h GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q345: has_child avg replayed — child scores fold in child-id
    // order, one exact division per parent
    "q345_has_child_avg" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |  GROUP BY term),
        | ch AS (SELECT doc_id,
        |   sum(CASE WHEN term = 'vector' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |   AND doc_id % 3 <> 0
        |  GROUP BY doc_id),
        | byp AS (SELECT (doc_id - doc_id % 3) AS doc_id,
        |   count(*)::BIGINT AS n_children_matched,
        |   list_reduce([0.0::DOUBLE] || list(score ORDER BY doc_id),
        |     (a, b) -> a + b) / count(*) AS score
        |  FROM ch GROUP BY 1),
        | par AS (SELECT doc_id FROM d
        |  WHERE doc_id % 3 = 0 AND doc_id % 37 <> 5)
        |SELECT doc_id, score, n_children_matched
        |FROM par JOIN byp USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q316: the nested aggregation replayed — every live parent
    // matching 'spark' contributes its 3 live sub-documents,
    // bucketed by the derived author keyword
    "q316_nested_agg" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | par AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | sub AS (SELECT par.doc_id AS parent_id, o.ord
        |  FROM par CROSS JOIN (VALUES (0), (1), (2)) AS o(ord))
        |SELECT 'a' || ((parent_id + ord) % 7) AS value,
        | count(*)::BIGINT AS doc_count
        |FROM sub GROUP BY 1
        |ORDER BY doc_count DESC, value LIMIT 10""".stripMargin,

    // q312: the +/- clause list replayed — must spark gates, stream
    // excludes, customer and meta:src3 add their field-stats scores
    // when present; n_terms_hit counts matched positive pairs
    "q312_query_string_ops" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest([source, lang]) AS term FROM d)
        |  GROUP BY term, doc_id),
        | dfm AS (SELECT term, count(*)::BIGINT AS df FROM pm
        |  GROUP BY term),
        | sp AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | cu AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'customer' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | s3 AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pm JOIN dfm USING (term)
        |  WHERE term = 'src3' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | st AS (SELECT DISTINCT doc_id FROM pt
        |  WHERE term = 'stream' AND doc_id % 37 <> 5),
        | u AS (SELECT d.doc_id, sp.v AS vsp, cu.v AS vcu,
        |   s3.v AS vs3, (st.doc_id IS NOT NULL) AS mst
        |  FROM d LEFT JOIN sp ON d.doc_id = sp.doc_id
        |  LEFT JOIN cu ON d.doc_id = cu.doc_id
        |  LEFT JOIN s3 ON d.doc_id = s3.doc_id
        |  LEFT JOIN st ON d.doc_id = st.doc_id
        |  WHERE d.doc_id % 37 <> 5)
        |SELECT doc_id,
        | coalesce(vsp, 0.0::DOUBLE) + coalesce(vcu, 0.0::DOUBLE) +
        |  coalesce(vs3, 0.0::DOUBLE) AS score,
        | ((CASE WHEN vsp IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vcu IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vs3 IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM u WHERE vsp IS NOT NULL AND NOT mst
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // q313: group boost / phrase slop / wildcard replayed — the
    // boosted group doubles (vector + join), the sloppy phrase
    // (min |q−p−1| ≤ 2) and the *tor wildcard (→ vector) gate or
    // add constant score, matching the engine's fold order
    "q313_query_string_advanced" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM toks GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | vx AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |  GROUP BY doc_id),
        | jn AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'join' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | sl AS (SELECT a.doc_id FROM
        |   (SELECT doc_id, pos FROM toks WHERE term = 'spark'
        |     AND doc_id % 37 <> 5) a
        |  JOIN (SELECT doc_id, pos FROM toks WHERE term = 'join'
        |     AND doc_id % 37 <> 5) b
        |   ON a.doc_id = b.doc_id
        |  GROUP BY a.doc_id
        |  HAVING min(abs(b.pos - a.pos - 1)) <= 2),
        | wc AS (SELECT DISTINCT doc_id FROM pt
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | u AS (SELECT d.doc_id, vx.v AS vvx, jn.v AS vjn,
        |   (sl.doc_id IS NOT NULL) AS msl,
        |   (wc.doc_id IS NOT NULL) AS mwc
        |  FROM d LEFT JOIN vx ON d.doc_id = vx.doc_id
        |  LEFT JOIN jn ON d.doc_id = jn.doc_id
        |  LEFT JOIN sl ON d.doc_id = sl.doc_id
        |  LEFT JOIN wc ON d.doc_id = wc.doc_id
        |  WHERE d.doc_id % 37 <> 5)
        |SELECT doc_id,
        | (coalesce(vvx, 0.0::DOUBLE) + coalesce(vjn, 0.0::DOUBLE))
        |   * 2.0 +
        |  (CASE WHEN mwc THEN 3.0 ELSE 0.0::DOUBLE END) AS score,
        | ((CASE WHEN vvx IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vjn IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM u
        |WHERE vvx IS NOT NULL OR vjn IS NOT NULL OR msl OR mwc
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q306: unordered intervals replayed — the occurrence product
    // with least/greatest bounds under the window gap rule
    "q306_intervals_unordered" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | a AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | b AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | w AS (SELECT a.doc_id,
        |   CAST(greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1
        |    AS BIGINT) AS span
        |  FROM a JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, count(*) AS n_intervals, min(span) AS min_span
        |FROM w WHERE span - 2 <= 3
        |GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q307: query_string filter leaves replayed — spark scores, the
    // exists and range leaves gate (sparse family: odd docs carry
    // no source column)
    "q307_query_string_filters" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |  GROUP BY term),
        | sp AS (SELECT doc_id,
        |   sum(CASE WHEN term = 'spark' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5
        |  GROUP BY doc_id)
        |SELECT doc_id, score, 1::BIGINT AS n_terms_hit
        |FROM sp
        |WHERE doc_id % 2 = 0 AND doc_id BETWEEN 20 AND 90
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q302: t_test replayed — HUGEINT moments mirror the decimal
    // accumulators, the same Welch pipeline in the same op order
    "q302_t_test" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | j AS (SELECT d.n_chars AS v, d.lang AS g FROM d
        |  JOIN hits USING (doc_id)
        |  WHERE d.n_chars IS NOT NULL AND d.lang IS NOT NULL
        |   AND d.lang IN ('en', 'de')),
        | s AS (SELECT
        |   CAST(sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |   CAST(sum(CASE WHEN g = 'en' THEN v ELSE 0 END) AS HUGEINT)
        |    AS s1a,
        |   CAST(sum(CASE WHEN g = 'en' THEN v * v ELSE 0 END)
        |    AS HUGEINT) AS s2a,
        |   CAST(sum(CASE WHEN g = 'de' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |   CAST(sum(CASE WHEN g = 'de' THEN v ELSE 0 END) AS HUGEINT)
        |    AS s1b,
        |   CAST(sum(CASE WHEN g = 'de' THEN v * v ELSE 0 END)
        |    AS HUGEINT) AS s2b
        |  FROM j)
        |SELECT n_a, n_b,
        | s1a::DOUBLE / n_a::DOUBLE AS mean_a,
        | s1b::DOUBLE / n_b::DOUBLE AS mean_b,
        | CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |  (s1a::DOUBLE / n_a::DOUBLE - s1b::DOUBLE / n_b::DOUBLE) /
        |  sqrt(((n_a::HUGEINT * s2a - s1a * s1a)::DOUBLE /
        |     (n_a * (n_a - 1))::DOUBLE) / n_a::DOUBLE +
        |   ((n_b::HUGEINT * s2b - s1b * s1b)::DOUBLE /
        |     (n_b * (n_b - 1))::DOUBLE) / n_b::DOUBLE)
        | ELSE NULL END AS t_stat
        |FROM s""".stripMargin,

    // q303: boxplot replayed — quantile_cont at the quartiles is
    // the same interpolated percentile as Spark's exact one
    "q303_boxplot" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | v AS (SELECT d.n_chars AS value FROM d
        |  JOIN hits USING (doc_id) WHERE d.n_chars IS NOT NULL)
        |SELECT count(*)::BIGINT AS n_docs,
        | min(value)::DOUBLE AS vmin,
        | quantile_cont(value, 0.25) AS q1,
        | quantile_cont(value, 0.5) AS q2,
        | quantile_cont(value, 0.75) AS q3,
        | max(value)::DOUBLE AS vmax
        |FROM v""".stripMargin,

    // q304: string_stats replayed — exact length profile
    "q304_string_stats" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | v AS (SELECT length(d.source)::BIGINT AS len FROM d
        |  JOIN hits USING (doc_id) WHERE d.source IS NOT NULL)
        |SELECT count(*)::BIGINT AS n_docs,
        | min(len) AS min_length, max(len) AS max_length,
        | sum(len)::DOUBLE / count(*)::DOUBLE AS avg_length
        |FROM v""".stripMargin,

    // q305: runtime field replayed — the same expression as SQL
    // over the hit docs' stored columns
    "q305_runtime_field" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | j AS (SELECT concat(d.lang, '/',
        |   CASE WHEN d.n_chars > 250 THEN 'long' ELSE 'short' END)
        |   AS value
        |  FROM d JOIN hits USING (doc_id))
        |SELECT value, count(*)::BIGINT AS doc_count
        |FROM j WHERE value IS NOT NULL
        |GROUP BY value ORDER BY doc_count DESC, value
        |LIMIT 12""".stripMargin,

    // q301: hybrid BM25 ⊕ kNN replayed — the bm25 rank window from
    // the shared fusion CTEs, the knn side as the exact filtered
    // cosine top-50 (query vec 3, live candidates), RRF terms
    "q301_hybrid_knn_rrf" -> (fusionOracleCtes +
      s""",
         | $dkNormed,
         | knn AS (SELECT * FROM (
         |   SELECT c.vec_id AS doc_id,
         |    ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) AS score
         |   FROM normed q JOIN normed c
         |    ON q.vec_id = 3 AND c.vec_id <> 3
         |   WHERE c.vec_id < 150 AND c.vec_id % 37 <> 5)
         |  ),
         | rk AS (SELECT * FROM (SELECT doc_id, score,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM knn) WHERE rn <= 50)
         |SELECT coalesce(ra.doc_id, rk.doc_id) AS doc_id,
         | (CASE WHEN ra.rn IS NOT NULL
         |   THEN 1.0 / (60.0 + ra.rn::DOUBLE) ELSE 0.0::DOUBLE END) +
         | (CASE WHEN rk.rn IS NOT NULL
         |   THEN 1.0 / (60.0 + rk.rn::DOUBLE) ELSE 0.0::DOUBLE END)
         |  AS score,
         | ((CASE WHEN ra.rn IS NOT NULL THEN 1 ELSE 0 END) +
         |  (CASE WHEN rk.rn IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
         |  AS n_retrievers_hit
         |FROM ra FULL OUTER JOIN rk ON ra.doc_id = rk.doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // q300: sampler replayed — the pinned id-order sample bounds
    // the sub-agg's input
    "q300_sampler" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | smp AS (SELECT d.doc_id, d.source FROM d
        |  JOIN hits USING (doc_id)
        |  WHERE d.source IS NOT NULL
        |  ORDER BY d.doc_id LIMIT 20)
        |SELECT source AS value, count(*)::BIGINT AS doc_count
        |FROM smp GROUP BY source ORDER BY doc_count DESC, value
        |LIMIT 10""".stripMargin,

    // q290: combined_fields replayed — weighted tf union across the
    // two field corpora, synthetic df over the pre-tombstone union,
    // live rows score in the fixed term order
    "q290_combined_fields" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest([source, lang]) AS term FROM d)
        |  GROUP BY term, doc_id),
        | cp AS (SELECT term, doc_id, tf::DOUBLE * 1.0 AS wtf FROM pt
        |   WHERE term IN ('spark', 'en')
        |  UNION ALL
        |  SELECT term, doc_id, tf::DOUBLE * 2.0 FROM pm
        |   WHERE term IN ('spark', 'en')),
        | comb AS (SELECT term, doc_id, sum(wtf) AS ctf FROM cp
        |  GROUP BY term, doc_id),
        | dfc AS (SELECT term, count(*)::BIGINT AS df FROM comb
        |  GROUP BY term)
        |SELECT doc_id,
        | sum(CASE WHEN term = 'spark' THEN ctf *
        |  ((SELECT n FROM nd) / df::DOUBLE) ELSE 0.0::DOUBLE END) +
        | sum(CASE WHEN term = 'en' THEN ctf *
        |  ((SELECT n FROM nd) / df::DOUBLE) ELSE 0.0::DOUBLE END)
        |  AS score,
        | count(DISTINCT term) AS n_terms_hit
        |FROM comb JOIN dfc USING (term)
        |WHERE doc_id % 37 <> 5
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q346: intervals before replayed — spark occurrences with some
    // vector occurrence strictly after them; each is a width-1
    // interval
    "q346_intervals_before" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | s AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | v AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | kept AS (SELECT DISTINCT s.doc_id, s.pos
        |  FROM s JOIN v ON s.doc_id = v.doc_id AND s.pos < v.pos)
        |SELECT doc_id, count(*)::BIGINT AS n_intervals,
        | 1::BIGINT AS min_span
        |FROM kept GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q347: intervals prefix source replayed — the vec% dictionary
    // expansion is exactly {vector} on this corpus, so the all_of
    // chain is spark..vector with v − s + 1 − 2 ≤ 4 covered gaps
    "q347_intervals_prefix" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | s AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | v AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | ch AS (SELECT s.doc_id,
        |   CAST(v.pos - s.pos + 1 AS BIGINT) AS span
        |  FROM s JOIN v ON s.doc_id = v.doc_id AND v.pos > s.pos
        |  WHERE v.pos - s.pos - 1 <= 4)
        |SELECT doc_id, count(*)::BIGINT AS n_intervals,
        | min(span) AS min_span
        |FROM ch GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q352: unordered all_of replayed — spark/vector pairs in
    // EITHER order; span = |Δpos| + 1, gaps = span − 2 ≤ 3
    "q352_intervals_unordered" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | s AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'spark' AND doc_id % 37 <> 5),
        | v AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | ch AS (SELECT s.doc_id,
        |   CAST(abs(v.pos - s.pos) + 1 AS BIGINT) AS span
        |  FROM s JOIN v ON s.doc_id = v.doc_id
        |  WHERE abs(v.pos - s.pos) <= 4)
        |SELECT doc_id, count(*)::BIGINT AS n_intervals,
        | min(span) AS min_span
        |FROM ch GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q291: intervals containing filter replayed — the chain pairs
    // kept by an EXISTS on the in-interval customer position
    "q291_intervals_filter" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | sv AS (SELECT a.doc_id, a.pos AS s, b.pos AS e
        |  FROM toks a JOIN toks b
        |   ON a.doc_id = b.doc_id AND b.pos > a.pos
        |  WHERE a.term = 'spark' AND b.term = 'vector'
        |   AND b.pos - a.pos - 1 <= 5 AND a.doc_id % 37 <> 5),
        | cu AS (SELECT doc_id, pos FROM toks
        |  WHERE term = 'customer' AND doc_id % 37 <> 5),
        | kept AS (SELECT sv.* FROM sv WHERE EXISTS (
        |  SELECT 1 FROM cu WHERE cu.doc_id = sv.doc_id
        |   AND cu.pos >= sv.s AND cu.pos <= sv.e))
        |SELECT doc_id, count(*) AS n_intervals,
        | min(CAST(e - s + 1 AS BIGINT)) AS min_span
        |FROM kept GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q292: terms lookup replayed — doc 7's lang filters the live
    // corpus (the lookup doc itself included, ES's rule)
    "q292_terms_lookup" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150)
        |SELECT doc_id, lang AS value FROM d
        |WHERE doc_id % 37 <> 5
        | AND lang = (SELECT lang FROM d
        |   WHERE doc_id = 7 AND doc_id % 37 <> 5)
        |ORDER BY doc_id LIMIT 40""".stripMargin,

    // q293: rank_feature saturation replayed — base pivot score +
    // boost·v/(v+pivot), one exact divide
    "q293_rank_feature" -> {
      val contribs = Seq("spark", "join", "vector").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "((SELECT n FROM nd) / df::DOUBLE) " +
          "ELSE 0.0::DOUBLE END)"
      }.mkString(" + ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
         |  GROUP BY term),
         | base AS (SELECT doc_id, $contribs AS bscore
         |  FROM p JOIN dfreq USING (term)
         |  WHERE term IN ('spark', 'join', 'vector')
         |   AND doc_id % 37 <> 5
         |  GROUP BY doc_id)
         |SELECT b.doc_id,
         | b.bscore + 1.5 * (d.n_chars::DOUBLE /
         |   (d.n_chars::DOUBLE + 200.0)) AS score,
         | d.n_chars::DOUBLE / (d.n_chars::DOUBLE + 200.0)
         |  AS saturation
         |FROM base b JOIN d ON b.doc_id = d.doc_id
         |ORDER BY score DESC, b.doc_id LIMIT 20""".stripMargin
    },

    // q294: script_score replayed — the same arithmetic as plain SQL
    "q294_script_score" -> {
      val contribs = Seq("spark", "join", "vector").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "((SELECT n FROM nd) / df::DOUBLE) " +
          "ELSE 0.0::DOUBLE END)"
      }.mkString(" + ")
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
         |  GROUP BY term),
         | base AS (SELECT doc_id, $contribs AS bscore
         |  FROM p JOIN dfreq USING (term)
         |  WHERE term IN ('spark', 'join', 'vector')
         |   AND doc_id % 37 <> 5
         |  GROUP BY doc_id)
         |SELECT b.doc_id,
         | (b.bscore + d.n_chars / 100.0) * 2.0 AS score
         |FROM base b JOIN d ON b.doc_id = d.doc_id
         |ORDER BY score DESC, b.doc_id LIMIT 20""".stripMargin
    },

    // q295: diversified_sampler replayed — the pinned per-lang
    // doc_id-order rank bounds the sample, the source terms agg
    // runs over it
    "q295_diversified_sampler" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | j AS (SELECT d.doc_id, d.lang, d.source,
        |   row_number() OVER (PARTITION BY d.lang
        |    ORDER BY d.doc_id) AS rn
        |  FROM d JOIN hits USING (doc_id)
        |  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL)
        |SELECT source AS value, count(*)::BIGINT AS doc_count
        |FROM j WHERE rn <= 3
        |GROUP BY source ORDER BY doc_count DESC, value
        |LIMIT 10""".stripMargin,

    // q296: cumulative_cardinality replayed — each lang counts from
    // its FIRST bucket on; the window is bucket-bounded
    "q296_cumulative_cardinality" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | j AS (SELECT d.doc_id,
        |   (floor(d.n_chars / 100.0) * 100)::BIGINT AS bucket,
        |   d.lang
        |  FROM d JOIN hits USING (doc_id)
        |  WHERE d.n_chars IS NOT NULL AND d.lang IS NOT NULL),
        | c AS (SELECT bucket, count(*)::BIGINT AS doc_count FROM j
        |  GROUP BY bucket),
        | f AS (SELECT lang, min(bucket) AS bucket FROM j
        |  GROUP BY lang),
        | nn AS (SELECT bucket, count(*)::BIGINT AS n_new FROM f
        |  GROUP BY bucket)
        |SELECT c.bucket, c.doc_count,
        | sum(coalesce(nn.n_new, 0)) OVER (ORDER BY c.bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |  AS cum_cardinality
        |FROM c LEFT JOIN nn ON c.bucket = nn.bucket
        |ORDER BY c.bucket""".stripMargin,

    // q297: MAD replayed — quantile_cont is the same interpolated
    // percentile as Spark's exact `percentile`; the inner median is
    // the identical scalar on both sides
    "q297_mad" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | v AS (SELECT d.n_chars AS value FROM d
        |  JOIN hits USING (doc_id) WHERE d.n_chars IS NOT NULL),
        | m AS (SELECT quantile_cont(value, 0.5) AS med FROM v)
        |SELECT count(*)::BIGINT AS n_docs,
        | (SELECT med FROM m) AS vmedian,
        | quantile_cont(abs(value - (SELECT med FROM m)), 0.5) AS mad
        |FROM v""".stripMargin,

    // q289: intervals combinators replayed — any_of as a term
    // union of single-position intervals, the match pair by
    // ascending positions under its own gap bound, all_of chaining
    // any.end < pair.start with the combined-minus-covered gap rule
    "q289_intervals_combinators" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | anyiv AS (SELECT doc_id, pos AS s, pos AS e FROM toks
        |  WHERE term IN ('spark', 'stream') AND doc_id % 37 <> 5),
        | cv AS (SELECT a.doc_id, a.pos AS s, b.pos AS e
        |  FROM toks a JOIN toks b
        |   ON a.doc_id = b.doc_id AND b.pos > a.pos
        |  WHERE a.term = 'customer' AND b.term = 'vector'
        |   AND b.pos - a.pos - 1 <= 2 AND a.doc_id % 37 <> 5),
        | combo AS (SELECT anyiv.doc_id,
        |   CAST(cv.e - anyiv.s + 1 AS BIGINT) AS span,
        |   (cv.e - anyiv.s + 1) -
        |    ((anyiv.e - anyiv.s + 1) + (cv.e - cv.s + 1)) AS gaps
        |  FROM anyiv JOIN cv ON anyiv.doc_id = cv.doc_id
        |   AND cv.s > anyiv.e)
        |SELECT doc_id, count(*) AS n_intervals, min(span) AS min_span
        |FROM combo WHERE gaps <= 6
        |GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q287: auto_date_histogram replayed — the events span (30
    // days) under target 50 picks `day` on the pinned ladder
    // (hour estimates 720 buckets, day 30); the series is q249's
    // gap-fill shape under the picked unit, pick reported
    "q287_auto_date_histogram" ->
      """WITH b AS (SELECT date_trunc('day', ts) AS bucket,
        |   count(*)::BIGINT AS doc_count
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        | bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi
        |  FROM b),
        | allb AS (SELECT unnest(generate_series(lo, hi,
        |   INTERVAL 1 DAY)) AS bucket FROM bounds)
        |SELECT allb.bucket, COALESCE(doc_count, 0) AS doc_count,
        | 'day' AS auto_interval
        |FROM allb LEFT JOIN b ON allb.bucket = b.bucket
        |ORDER BY allb.bucket""".stripMargin,

    // q288: bucket_script replayed — the same single-pass bucket +
    // metric aggregation, the script as plain SQL arithmetic
    // (BIGINT / BIGINT is float division in both dialects)
    "q288_bucket_script" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term IN ('spark', 'join', 'vector')
        |   AND doc_id % 37 <> 5),
        | j AS (SELECT d.doc_id, d.n_chars FROM d
        |  JOIN hits USING (doc_id))
        |SELECT (floor(n_chars / 100.0) * 100)::BIGINT AS bucket,
        | count(*)::BIGINT AS doc_count,
        | sum(n_chars)::BIGINT AS sum_nc,
        | sum(n_chars)::BIGINT / count(*)::BIGINT AS script_value
        |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q285: has_child replayed — live child hits of `vector` group
    // by parent (doc_id - doc_id % 3), max child score, live
    // parents only (42 is tombstoned and must not return)
    "q285_has_child" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |  GROUP BY term),
        | ch AS (SELECT doc_id,
        |   sum(CASE WHEN term = 'vector' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'vector' AND doc_id % 37 <> 5
        |   AND doc_id % 3 <> 0
        |  GROUP BY doc_id),
        | byp AS (SELECT (doc_id - doc_id % 3) AS doc_id,
        |   count(*)::BIGINT AS n_children_matched,
        |   max(score) AS score
        |  FROM ch GROUP BY 1),
        | par AS (SELECT doc_id FROM d
        |  WHERE doc_id % 3 = 0 AND doc_id % 37 <> 5)
        |SELECT doc_id, score, n_children_matched
        |FROM par JOIN byp USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin,

    // q286: has_parent replayed — live parents matching `spark`
    // hand their score to every live child pointing at them
    "q286_has_parent" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p
        |  GROUP BY term),
        | ph AS (SELECT doc_id AS pid,
        |   sum(CASE WHEN term = 'spark' THEN tf::DOUBLE *
        |    ((SELECT n FROM nd) / df::DOUBLE)
        |    ELSE 0.0::DOUBLE END) AS score
        |  FROM p JOIN dfreq USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5
        |   AND doc_id % 3 = 0
        |  GROUP BY doc_id),
        | ch AS (SELECT doc_id, (doc_id - doc_id % 3) AS pid FROM d
        |  WHERE doc_id % 3 <> 0 AND doc_id % 37 <> 5)
        |SELECT ch.doc_id, ph.score
        |FROM ch JOIN ph USING (pid)
        |ORDER BY score DESC, doc_id LIMIT 40""".stripMargin,

    // q284: gauss/exp decay replayed as BANDS — mult < decay^k iff
    // exponent > k (decay < 1), so the band is floor of the exact
    // exponent; boundary distances are excluded on both sides and
    // the in-unit booleans state the range contract as literals
    "q284_decay_gauss_exp" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | hits AS (SELECT DISTINCT doc_id FROM p
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | j AS (SELECT d.doc_id,
        |   abs(d.n_chars - 300)::BIGINT AS dist
        |  FROM d JOIN hits USING (doc_id))
        |SELECT doc_id, dist,
        | least(16, floor(dist * dist / 10000.0))::BIGINT
        |  AS gauss_band,
        | least(16, floor(dist / 100.0))::BIGINT AS exp_band,
        | TRUE AS in_unit
        |FROM j WHERE dist % 100 <> 0
        |ORDER BY doc_id LIMIT 40""".stripMargin,

    // q283: query_string replayed — the parsed tree
    // OR( AND(spark, join), AND(meta:src3^2, NOT stream) ) as
    // nested CASE gating: each conjunction contributes only when it
    // matches whole, src3 weights with the meta family's df/N,
    // n_terms_hit counts positive pairs the doc holds
    "q283_query_string" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | nd AS (SELECT count(*)::DOUBLE AS n FROM d),
        | pt AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM d) GROUP BY term, doc_id),
        | dft AS (SELECT term, count(*)::BIGINT AS df FROM pt
        |  GROUP BY term),
        | pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest([source, lang]) AS term FROM d)
        |  GROUP BY term, doc_id),
        | dfm AS (SELECT term, count(*)::BIGINT AS df FROM pm
        |  GROUP BY term),
        | sp AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'spark' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | jn AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pt JOIN dft USING (term)
        |  WHERE term = 'join' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | s3 AS (SELECT doc_id, sum(tf::DOUBLE *
        |   ((SELECT n FROM nd) / df::DOUBLE)) AS v
        |  FROM pm JOIN dfm USING (term)
        |  WHERE term = 'src3' AND doc_id % 37 <> 5 GROUP BY doc_id),
        | st AS (SELECT DISTINCT doc_id FROM pt
        |  WHERE term = 'stream' AND doc_id % 37 <> 5),
        | u AS (SELECT d.doc_id, sp.v AS vsp, jn.v AS vjn,
        |   s3.v AS vs3, (st.doc_id IS NOT NULL) AS mst
        |  FROM d LEFT JOIN sp ON d.doc_id = sp.doc_id
        |  LEFT JOIN jn ON d.doc_id = jn.doc_id
        |  LEFT JOIN s3 ON d.doc_id = s3.doc_id
        |  LEFT JOIN st ON d.doc_id = st.doc_id
        |  WHERE d.doc_id % 37 <> 5)
        |SELECT doc_id,
        | (CASE WHEN vsp IS NOT NULL AND vjn IS NOT NULL
        |   THEN coalesce(vsp, 0.0::DOUBLE) + coalesce(vjn, 0.0::DOUBLE)
        |   ELSE 0.0::DOUBLE END) +
        | (CASE WHEN vs3 IS NOT NULL AND NOT mst
        |   THEN 2.0 * coalesce(vs3, 0.0::DOUBLE)
        |   ELSE 0.0::DOUBLE END) AS score,
        | ((CASE WHEN vsp IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vjn IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN vs3 IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
        |  AS n_terms_hit
        |FROM u
        |WHERE (vsp IS NOT NULL AND vjn IS NOT NULL)
        |   OR (vs3 IS NOT NULL AND NOT mst)
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q279: geo_polygon replayed — the identical PNPOLY edge terms
    // and crossing-parity fold, generated from the same vertex list
    "q279_geo_polygon" -> {
      val poly = Seq((40.0, -50.0), (40.0, 10.0), (0.0, 30.0),
        (-30.0, 0.0), (0.0, -60.0))
      val terms = poly.zip(poly.tail :+ poly.head).map {
        case ((yi, xi), (yj, xj)) =>
          s"((($yi > lat) <> ($yj > lat)) AND " +
            s"(lon < ($xj - $xi) * (lat - $yi) / ($yj - $yi) + $xi))"
      }
      val parity = terms.tail.foldLeft(terms.head)((acc, t) =>
        s"($acc <> $t)")
      s"""WITH g AS (SELECT c_custkey AS id,
         |  ((c_custkey*37) % 17000)/100.0 - 85.0 AS lat,
         |  ((c_custkey*73) % 36000)/100.0 - 180.0 AS lon
         | FROM customer),
         | b AS (SELECT * FROM g
         |  WHERE lat <= 40.0 AND lat >= -30.0
         |   AND lon >= -60.0 AND lon <= 30.0)
         |SELECT id, lat, lon FROM b
         |WHERE $parity
         |ORDER BY id LIMIT 40""".stripMargin
    },

    // q278: fuzzy completion replayed — dictionary weights are
    // pre-tombstone df (the dictionary phase), the same levenshtein
    // window over length-(n−1..n+1) prefixes, first char exact
    "q278_completion_fuzzy" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT DISTINCT doc_id,
        |   unnest(string_split(text, ' ')) AS term FROM d)
        |SELECT term, count(DISTINCT doc_id) AS weight FROM p
        |WHERE substr(term, 1, 1) = 'v'
        |  AND least(
        |   levenshtein(substr(term, 1, 4), 'vectr'),
        |   levenshtein(substr(term, 1, 5), 'vectr'),
        |   levenshtein(substr(term, 1, 6), 'vectr')) <= 1
        |GROUP BY term ORDER BY weight DESC, term
        |LIMIT 10""".stripMargin,

    // q277: collapse inner_hits replayed — the same two rank
    // windows (per-group inner rank, head-ordered group rank)
    "q277_collapse_inner" -> {
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | scored AS (SELECT doc_id, ${contribs.mkString(" + ")}
         |   AS score FROM liv JOIN dfreq USING (term), nd
         |  WHERE term IN (${searchTerms.map(t => s"'$t'")
            .mkString(", ")})
         |  GROUP BY doc_id),
         | ranked AS (SELECT d.lang AS group_value, s.doc_id, s.score,
         |   CAST(row_number() OVER (PARTITION BY d.lang
         |     ORDER BY s.score DESC, s.doc_id) AS INT) AS inner_rank
         |  FROM scored s JOIN d ON s.doc_id = d.doc_id),
         | heads AS (SELECT group_value,
         |   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |     AS INT) AS group_rank
         |  FROM ranked WHERE inner_rank = 1
         |  ORDER BY score DESC, doc_id LIMIT 5)
         |SELECT r.group_value, h.group_rank, r.inner_rank,
         | r.doc_id, r.score
         |FROM ranked r JOIN heads h ON r.group_value = h.group_value
         |WHERE r.inner_rank <= 3
         |ORDER BY h.group_rank, r.inner_rank""".stripMargin
    },

    // q276: span_not replayed — include positions anti-joined
    // against the pre/post kill band
    "q276_span_not" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | toks AS (SELECT doc_id, unnest(l) AS term,
        |   generate_subscripts(l, 1) - 1 AS pos
        |   FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d)),
        | inc AS (SELECT doc_id, pos AS p FROM toks
        |  WHERE term = 'vector' AND doc_id % 37 <> 5),
        | exc AS (SELECT doc_id, pos AS e FROM toks
        |  WHERE term = 'customer' AND doc_id % 37 <> 5),
        | killed AS (SELECT DISTINCT inc.doc_id, inc.p
        |  FROM inc JOIN exc ON inc.doc_id = exc.doc_id
        |   AND exc.e >= inc.p - 1 AND exc.e <= inc.p + 1),
        | surv AS (SELECT inc.doc_id, inc.p FROM inc
        |  ANTI JOIN killed ON inc.doc_id = killed.doc_id
        |   AND inc.p = killed.p)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(min(p) AS BIGINT) AS first_pos
        |FROM surv GROUP BY doc_id ORDER BY doc_id
        |LIMIT 25""".stripMargin,

    // q275: search_template replayed — the rendered template
    // "+spark | join" as its simple_query_string shape
    "q275_search_template" -> {
      val contribs = Seq("spark", "join").map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | cand AS (SELECT DISTINCT doc_id FROM liv
         |  WHERE term = 'spark')
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM liv JOIN dfreq USING (term), nd
         |WHERE term IN ('spark', 'join')
         |  AND doc_id IN (SELECT doc_id FROM cand)
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q267: regexp replayed — whole-term anchored match over the
    // live postings (the engine's dictionary expansion is exactly
    // the distinct matched-term set)
    "q267_regexp" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT DISTINCT doc_id,
        |   unnest(string_split(text, ' ')) AS term FROM d),
        | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5)
        |SELECT doc_id, 1.0 AS score,
        | count(DISTINCT term) AS n_terms_matched
        |FROM liv WHERE regexp_matches(term, '^sp[a-z]*k$')
        |GROUP BY doc_id ORDER BY doc_id LIMIT 20""".stripMargin,

    // q240: named queries replayed — distinct (doc, name) matches,
    // names comma-joined in sorted order per live hit
    "q240_named_queries" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
        | p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM d),
        | qt AS (SELECT * FROM (VALUES ('alpha', 'spark'),
        |   ('beta', 'join'), ('beta', 'vector')) t(name, term)),
        | dn AS (SELECT DISTINCT doc_id, name FROM p JOIN qt
        |   USING (term) WHERE doc_id % 37 <> 5)
        |SELECT doc_id,
        | string_agg(name, ',' ORDER BY name) AS matched_queries
        |FROM dn GROUP BY doc_id ORDER BY doc_id LIMIT 30"""
        .stripMargin,

    // q180: ES bool semantics replayed in SQL — candidates must carry
    // BOTH must terms (live rows), none of the must_not term; scoring
    // sums the matched must+should contributions in the same fixed
    // clause order, df/N over ALL postings (pre-merge stats phase)
    "q180_bool_search" -> {
      val scoring = Seq("spark", "data", "vector")
      val contribs = scoring.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 150),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM d) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
         | liv AS (SELECT * FROM p WHERE doc_id % 37 <> 5),
         | cand AS (
         |  SELECT doc_id FROM liv WHERE term IN ('spark', 'data')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |  EXCEPT
         |  SELECT doc_id FROM liv WHERE term = 'join')
         |SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         | count(*) AS n_terms_hit
         |FROM liv JOIN dfreq USING (term) JOIN cand USING (doc_id), nd
         |WHERE term IN ('spark', 'data', 'vector')
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
        .stripMargin
    },

    "q165_segmented_search" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM (SELECT * FROM documents WHERE doc_id < 150)) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM (SELECT * FROM documents WHERE doc_id < 150)),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT doc_id, score, n_terms_hit,
         | CAST(2 AS BIGINT) AS n_segments,
         | CAST(1 AS BIGINT) AS n_tombstone_segments,
         | (SELECT count(*) FROM (SELECT * FROM documents WHERE doc_id < 150))::BIGINT AS n_docs_stat
         |FROM hits ORDER BY score DESC, doc_id""".stripMargin
    },

    // q167: q156's exact rank-key oracle under Lucene's pre-merge
    // stats phase — N/totalLen/df over ALL documents (tombstoned docs
    // still counted), ranks over the surviving hits only
    "q167_segmented_bm25" ->
      """WITH lens AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS dl FROM (SELECT * FROM documents WHERE doc_id < 150)),
        | p AS (SELECT doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM (SELECT * FROM documents WHERE doc_id < 150))
        |  WHERE tok = 'data' GROUP BY doc_id),
        | st AS (SELECT count(*)::BIGINT AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_len
        |  FROM (SELECT * FROM documents WHERE doc_id < 150)),
        | r AS (SELECT p.doc_id, tf, dl,
        |   CAST(tf AS DOUBLE) /
        |    CAST(10 * total_len * tf + 3 * total_len + 9 * n_docs * dl
        |     AS DOUBLE) AS rank_key
        |  FROM p JOIN lens USING (doc_id), st
        |  WHERE p.doc_id % 37 <> 5),
        | k AS (SELECT doc_id, tf, dl, rank_key,
        |   row_number() OVER (ORDER BY rank_key DESC, doc_id) AS rank
        |  FROM r)
        |SELECT doc_id, tf, dl, CAST(rank AS BIGINT) AS rank, rank_key,
        | TRUE AS rank_agrees, TRUE AS score_in_bounds
        |FROM k WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q174: after the incremental snapshot the destination equals the
    // mutated index (q165's oracle shape); the frozen-phase hit count
    // and the 2-then-1 copy counts pin the isolation and the
    // incrementality
    "q174_index_snapshot" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM (SELECT * FROM documents WHERE doc_id < 150))
         |  GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs
         |  FROM (SELECT * FROM documents WHERE doc_id < 150)),
         | frozen AS (SELECT LEAST(20, count(DISTINCT doc_id)) AS n
         |  FROM p WHERE term IN ($termList)),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList) AND doc_id % 37 <> 5
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT doc_id, score, n_terms_hit,
         | CAST(2 AS BIGINT) AS n_copied_first,
         | CAST(1 AS BIGINT) AS n_copied_incremental,
         | CAST(frozen.n AS BIGINT) AS n_hits_frozen
         |FROM hits, frozen ORDER BY score DESC, doc_id""".stripMargin
    },

    // q171: q153's snippet semantics over the live documents only —
    // the index-served query→fetch→highlight pipeline must be
    // indistinguishable from highlighting the raw live corpus
    "q171_segmented_highlight" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM (SELECT * FROM documents WHERE doc_id < 150) WHERE doc_id % 37 <> 5),
        | px AS (SELECT doc_id, toks,
        |   list_min(list_filter(
        |     [list_position(toks, 'spark'), list_position(toks, 'join'),
        |      list_position(toks, 'vector')],
        |     x -> x > 0)) AS pos
        |  FROM t)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(len(list_filter(toks,
        |    tk -> list_contains(['spark', 'join', 'vector'], tk)))
        |   AS BIGINT) AS n_hits,
        |  array_to_string(list_transform(
        |    toks[greatest(1, pos - 3) : greatest(1, pos - 3) + 6],
        |    tk -> CASE WHEN list_contains(['spark', 'join', 'vector'], tk)
        |      THEN '[' || tk || ']' ELSE tk END), ' ') AS snippet
        |FROM px WHERE pos IS NOT NULL ORDER BY doc_id""".stripMargin,

    // q172: GET-by-id against the live index — tombstoned ids (5, 42)
    // return nothing, the upserted id 1 returns its NEW text
    "q172_segmented_fetch" ->
      """SELECT doc_id,
        | CASE WHEN doc_id = 1 THEN text || ' updated' ELSE text END
        |  AS text
        |FROM (SELECT * FROM documents WHERE doc_id < 150)
        |WHERE doc_id IN (1, 5, 7, 42, 100) AND doc_id % 37 <> 5
        |ORDER BY doc_id""".stripMargin,

    // q170: q159's quadratic fuzzy oracle under Lucene stats phases —
    // vocabulary, df and N over ALL documents (the dictionary keeps
    // tombstoned docs' terms), scored hits over the live ones only
    "q170_segmented_fuzzy" ->
      """WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM (SELECT * FROM documents WHERE doc_id < 150)) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
        |  GROUP BY term),
        | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM (SELECT * FROM documents WHERE doc_id < 150)),
        | vocab AS (SELECT DISTINCT term FROM p),
        | q AS (SELECT unnest(['vectro', 'cusotmer', 'join']) AS q_term),
        | cand AS (SELECT q.q_term, v.term FROM q JOIN vocab v
        |  ON levenshtein(q.q_term, v.term) <=
        |     CASE WHEN length(q.q_term) >= 6 THEN 2 ELSE 1 END),
        | scored AS (SELECT c.q_term, c.term,
        |   CAST(levenshtein(c.q_term, c.term) AS BIGINT) AS dist,
        |   p.doc_id,
        |   p.tf::DOUBLE * (nd.n_docs / dfreq.doc_freq::DOUBLE) AS tfidf
        |  FROM cand c JOIN p ON c.term = p.term
        |  JOIN dfreq ON p.term = dfreq.term, nd
        |  WHERE p.doc_id % 37 <> 5)
        |SELECT q_term, term, dist, doc_id, tfidf, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_term, term
        |   ORDER BY tfidf DESC, doc_id) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY q_term, term, rank""".stripMargin,

    // q169: q105's phrase oracle restricted to the live (untombstoned)
    // documents — position arithmetic is unaffected by the stats
    // phase, only membership is
    "q169_segmented_phrase" ->
      """WITH tp AS (SELECT doc_id, z[1] AS term, z[2] - 1 AS pos
        |  FROM (SELECT doc_id, unnest(list_zip(toks,
        |          list_transform(toks, (x, i) -> i::BIGINT))) AS z
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |              FROM (SELECT * FROM documents WHERE doc_id < 150) WHERE doc_id % 37 <> 5)))
        |SELECT a.doc_id, count(*) AS n_occurrences,
        |  CAST(min(a.pos) AS BIGINT) AS first_pos
        |FROM tp a
        |JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |         AND b.term = 'order'
        |JOIN tp c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |         AND c.term = 'scan'
        |WHERE a.term = 'big'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // q168: Lucene stats with live versioning — old AND new versions
    // of an updated doc count toward N and df (v tags keep same-id
    // versions distinct); the hit list carries only the new versions
    // (prefix-scoped tombstone) plus the fresh appends
    "q168_index_upsert" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH up AS (SELECT doc_id, text || ' spark' AS text
         |  FROM (SELECT * FROM documents WHERE doc_id < 150) WHERE doc_id % 7 = 3),
         | fresh AS (SELECT doc_id + 9000000 AS doc_id, text
         |  FROM (SELECT * FROM documents WHERE doc_id < 150) WHERE doc_id < 3),
         | vers AS (SELECT doc_id, text, 0 AS v FROM (SELECT * FROM documents WHERE doc_id < 150)
         |  UNION ALL SELECT doc_id, text, 1 FROM up
         |  UNION ALL SELECT doc_id, text, 2 FROM fresh),
         | p AS (SELECT term, doc_id, v, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, v, unnest(string_split(text, ' ')) AS term
         |        FROM vers) GROUP BY term, doc_id, v),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM vers),
         | live AS (SELECT * FROM p
         |  WHERE NOT (v = 0
         |             AND (doc_id % 7 = 3 OR doc_id % 37 = 5))),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM live JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList)
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT doc_id, score, n_terms_hit,
         | CAST(3 AS BIGINT) AS n_segments,
         | CAST(2 AS BIGINT) AS n_tombstone_segments,
         | (SELECT count(*) FROM vers)::BIGINT AS n_docs_stat
         |FROM hits ORDER BY score DESC, doc_id""".stripMargin
    },

    // q166: post-merge — the tombstones applied, so N and df now run
    // over the SURVIVING documents only; 2 segments folded, 1
    // tombstone segment applied, 1 live segment after
    "q166_segment_merge" -> {
      val termList = searchTerms.map(t => s"'$t'").mkString(", ")
      val contribs = searchTerms.map { t =>
        s"sum(CASE WHEN term = '$t' THEN tf::DOUBLE * " +
          "(n_docs / doc_freq::DOUBLE) ELSE 0.0::DOUBLE END)"
      }
      s"""WITH live AS (SELECT * FROM (SELECT * FROM documents WHERE doc_id < 150) WHERE doc_id % 37 <> 5),
         | p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM live) GROUP BY term, doc_id),
         | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
         |  GROUP BY term),
         | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM live),
         | hits AS (SELECT doc_id, ${contribs.mkString(" + ")} AS score,
         |   count(*) AS n_terms_hit
         |  FROM p JOIN dfreq USING (term), nd
         |  WHERE term IN ($termList)
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT doc_id, score, n_terms_hit,
         | CAST(2 AS BIGINT) AS n_folded,
         | CAST(1 AS BIGINT) AS n_dels_applied,
         | CAST(1 AS BIGINT) AS n_segments,
         | (SELECT count(*) FROM live)::BIGINT AS n_docs_stat
         |FROM hits ORDER BY score DESC, doc_id""".stripMargin
    },

    // q159: q152's quadratic oracle under the Lucene-AUTO allowance —
    // two edits for length-6+ query terms, one otherwise
    "q159_fuzzy_auto" ->
      """WITH p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY term, doc_id),
        | dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM p
        |  GROUP BY term),
        | nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        | vocab AS (SELECT DISTINCT term FROM p),
        | q AS (SELECT unnest(['vectro', 'cusotmer', 'join']) AS q_term),
        | cand AS (SELECT q.q_term, v.term FROM q JOIN vocab v
        |  ON levenshtein(q.q_term, v.term) <=
        |     CASE WHEN length(q.q_term) >= 6 THEN 2 ELSE 1 END),
        | scored AS (SELECT c.q_term, c.term,
        |   CAST(levenshtein(c.q_term, c.term) AS BIGINT) AS dist,
        |   p.doc_id,
        |   p.tf::DOUBLE * (nd.n_docs / dfreq.doc_freq::DOUBLE) AS tfidf
        |  FROM cand c JOIN p ON c.term = p.term
        |  JOIN dfreq ON p.term = dfreq.term, nd)
        |SELECT q_term, term, dist, doc_id, tfidf, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_term, term
        |   ORDER BY tfidf DESC, doc_id) AS rank FROM scored)
        |WHERE rank <= 5 ORDER BY q_term, term, rank""".stripMargin,

    "q27_langid" -> {
      val scores = TextOps.langMarkers.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> list_contains([$arr], t)))::BIGINT AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextOps.langMarkers.map(_._1)
      val gr = langs.map(l => s"score_$l").mkString(", ")
      val cases = langs.map(l =>
        s"WHEN score_$l = greatest($gr) AND score_$l > 0 THEN '$l'")
        .mkString(" ")
      s"""WITH sc AS (SELECT doc_id,
         |  $scores
         | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
         |SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang,
         |  score_en, score_es, score_fr, score_de
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "q28_quality" ->
      s"""WITH q AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct,
         |  len(list_filter(toks, t -> list_contains([$enMarkers], t)))::BIGINT AS n_stop
         | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
         |SELECT doc_id, n_tokens, n_distinct,
         |  n_distinct::DOUBLE / n_tokens::DOUBLE AS ttr,
         |  n_stop::DOUBLE / n_tokens::DOUBLE AS stop_ratio,
         |  0.4 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
         |   + 0.3 * least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0)
         |   + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens::DOUBLE) AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    // Non-distinct 5-token windows (DuckDB comprehension is 1-based:
    // range(1, len-3) yields the len-4 window starts); a gram with
    // occ > 1 anywhere in the corpus marks every one of its windows.
    "q109_repeated_spans" ->
      """WITH g AS (SELECT doc_id, unnest(
        |    CASE WHEN len(toks) >= 5 THEN
        |      [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |       || toks[i+3] || ' ' || toks[i+4]
        |       for i in range(1, len(toks) - 3)]
        |    ELSE [] END) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        | c AS (SELECT gram, count(*) AS occ FROM g GROUP BY gram),
        | p AS (SELECT g.doc_id, count(*) AS n_windows,
        |   CAST(sum(CASE WHEN c.occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_rep_windows
        |  FROM g JOIN c USING (gram) GROUP BY g.doc_id)
        |SELECT doc_id, n_windows, n_rep_windows,
        |  n_rep_windows::DOUBLE / n_windows::DOUBLE AS rep_ratio
        |FROM p ORDER BY doc_id""".stripMargin,

    "q110_unigram_lm" ->
      """WITH t AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        | f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
        | p AS (SELECT t.doc_id, count(*) AS n_tokens,
        |    CAST(sum(f.freq) AS BIGINT) AS sum_freq,
        |    min(f.freq) AS min_freq
        |   FROM t JOIN f USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, sum_freq, min_freq,
        |  sum_freq::DOUBLE / n_tokens::DOUBLE AS mean_freq
        |FROM p ORDER BY doc_id""".stripMargin,

    // Same quality arithmetic as q28; the cap is a rank window with a
    // total-ordered tie-break (quality DESC, doc_id ASC).
    "q106_source_cap" ->
      s"""WITH q AS (SELECT doc_id, source,
         |  len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct,
         |  len(list_filter(toks, t -> list_contains([$enMarkers], t)))::BIGINT AS n_stop
         | FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
         |       FROM documents)),
         | sc AS (SELECT doc_id, source,
         |  0.4 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
         |   + 0.3 * least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0)
         |   + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens::DOUBLE) AS quality
         | FROM q),
         | r AS (SELECT doc_id, source, quality, row_number() OVER (
         |    PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
         |  FROM sc)
         |SELECT doc_id, source, quality, rn FROM r WHERE rn <= 3
         |ORDER BY source, rn""".stripMargin,

    "q29_tokencount" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]{1,4}'))::BIGINT AS n_subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce([0::BIGINT] || list_transform(string_split(text, ' '),
         |    t -> ${dkCharHash("t")}),
         |    (h, v) -> (h * 131 + v) % ${TextOps.PermP}) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_exact_dedup" ->
      """SELECT doc_id,
        |  count(*) OVER w AS group_size,
        |  min(doc_id) OVER w AS keep_id,
        |  doc_id != min(doc_id) OVER w AS is_dup
        |FROM documents
        |WINDOW w AS (PARTITION BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    // Exact all-pairs Jaccard — valid oracle because the data's
    // similarity gap (nothing between ~0.3 and ~0.85) puts LSH recall
    // at threshold 0.8 effectively at 1 (miss prob < 1e-6 per pair);
    // verified empirically at sf0.01/sf0.1 before shipping.
    "q32_minhash_dedup" ->
      s"""WITH $dkSh
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q33_ngram_jaccard" ->
      s"""WITH $dkSh
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.shingles, b.shingles)) > 0
         |  AND len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Exact all-pairs Hamming — the 4x16-bit banding has perfect recall
    // for Hamming <= 3 by pigeonhole, so exact is the true oracle.
    "q34_simhash" ->
      s"""WITH th AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), t -> ${dkCharHash("t")})
         |    AS tok_hashes FROM documents),
         | bits AS (SELECT doc_id,
         |  [CASE WHEN list_reduce([0::BIGINT] || list_transform(tok_hashes,
         |     v -> 2 * (${dkPerm("v", "j")} % 2) - 1),
         |     (acc, x) -> acc + x) >= 0 THEN 1 ELSE 0 END
         |   for j in range(0, 64)] AS bits FROM th)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  list_reduce([0::BIGINT] || list_transform(
         |    list_zip(a.bits, b.bits), p -> abs(p[1] - p[2])::BIGINT),
         |    (acc, x) -> acc + x) AS hamming
         |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
         |WHERE list_reduce([0::BIGINT] || list_transform(
         |    list_zip(a.bits, b.bits), p -> abs(p[1] - p[2])::BIGINT),
         |    (acc, x) -> acc + x) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q35_cosine_topk" ->
      s"""WITH $dkNormed
         |SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC)::BIGINT AS rank,
         |  ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |FROM normed q JOIN normed c
         |  ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |QUALIFY rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // q220: q35's exact cosine ranking with the PRE-filter on the
    // candidate side only (queries are not filtered — ES's knn.filter
    // constrains matches, not the query vector)
    "q220_filtered_knn" ->
      s"""WITH $dkNormed
         |SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC)::BIGINT AS rank,
         |  ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |FROM normed q JOIN normed c
         |  ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |  AND c.vec_id IN
         |    (SELECT vec_id FROM embeddings WHERE label = 2)
         |QUALIFY rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // q337: the similarity cutoff replayed — q220's exact cosine
    // with the floor applied BEFORE the rank window
    "q337_knn_similarity" ->
      s"""WITH $dkNormed,
         | scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |   ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM normed q JOIN normed c
         |   ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |   AND c.vec_id IN
         |     (SELECT vec_id FROM embeddings WHERE label = 2))
         |SELECT q_id, neighbor_id,
         |  row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank,
         |  cos
         |FROM scored WHERE cos >= 0.2
         |QUALIFY rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "q36_ann_lsh" ->
      s"""WITH $dkNormed,
         | bucketed AS (SELECT vec_id, v, nrm,
         |   ${dkBuckets(4, 4)} AS bl FROM normed),
         | cands AS (SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn,
         |    c.vec_id AS neighbor_id, c.v AS cv, c.nrm AS cn
         |  FROM bucketed q JOIN bucketed c
         |   ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |   AND len(list_filter(range(1, 5), t -> q.bl[t] = c.bl[t])) > 0)
         |SELECT q_id, neighbor_id,
         |  row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${dkDot("qv", "cv")} / (qn * cn) DESC,
         |      neighbor_id ASC)::BIGINT AS rank,
         |  ${dkDot("qv", "cv")} / (qn * cn) AS cos
         |FROM cands
         |QUALIFY rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "q37_cosine_neardup" ->
      s"""WITH $dkNormed,
         | bucketed AS (SELECT vec_id, v, nrm,
         |   ${dkBuckets(4, 4)} AS bl FROM normed)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${dkDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |FROM bucketed a JOIN bucketed b
         | ON a.vec_id < b.vec_id
         | AND len(list_filter(range(1, 5), t -> a.bl[t] = b.bl[t])) > 0
         |WHERE ${dkDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // exact side = q35's core at (50, 10); approx side = q36's core at
    // the same parameters; recall joins the two id sets
    "q99_ann_recall" ->
      s"""WITH $dkNormed,
         | bucketed AS (SELECT vec_id, v, nrm,
         |   ${dkBuckets(4, 4)} AS bl FROM normed),
         | exact AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM normed q JOIN normed c
         |    ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | approx AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn,
         |      c.vec_id AS neighbor_id, c.v AS cv, c.nrm AS cn
         |    FROM bucketed q JOIN bucketed c
         |     ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |     AND len(list_filter(range(1, 5), t -> q.bl[t] = c.bl[t])) > 0)
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${dkDot("qv", "cv")} / (qn * cn) DESC,
         |      neighbor_id ASC) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |   FROM exact e JOIN approx a
         |     ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
         |   GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM normed n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 50 ORDER BY q_id""".stripMargin,

    // q129: q99's recall scaffold over the IVF-with-learned-centroids
    // path. The learning CTEs are q128's verbatim (same bitwise
    // fixed-point M-step), `asg` assigns every vector to its learned
    // cell, and approx candidates are same-cell rows ranked by the
    // same exact cosine as `exact` — so the recall number itself is
    // cross-engine exact.
    "q129_ivf_recall_learned" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | d1 AS (SELECT nv.vec_id, c1n.c_id,
         |   nv.n2 + c1n.cn2 - 2.0 * ${dkDot("nv.v", "c1n.cv")} AS d2
         |  FROM nv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | asg AS (SELECT nv.vec_id, a1.c_id AS cluster, nv.v,
         |   sqrt(nv.n2) AS nrm
         |  FROM nv JOIN a1 ON nv.vec_id = a1.vec_id AND a1.rn = 1),
         | exact AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM asg q JOIN asg c
         |    ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | approx AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM asg q JOIN asg c
         |    ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |    AND q.cluster = c.cluster
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |   FROM exact e JOIN approx a
         |     ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
         |   GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM nv n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 50 ORDER BY q_id""".stripMargin,

    // q140: q129's learning chain (centroids from the BASE corpus
    // only — upkeep never moves the quantizer), then assignment and
    // same-cell top-10 over base ∪ shifted-id batch
    "q140_ivf_append" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | app AS (SELECT vec_id + 1000000 AS vec_id, v, n2
         |  FROM nv WHERE vec_id < 20),
         | allv AS (SELECT vec_id, v, n2 FROM nv
         |  UNION ALL SELECT vec_id, v, n2 FROM app),
         | d1 AS (SELECT allv.vec_id, c1n.c_id,
         |   allv.n2 + c1n.cn2 - 2.0 * ${dkDot("allv.v", "c1n.cv")} AS d2
         |  FROM allv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | asg AS (SELECT allv.vec_id, a1.c_id AS cluster, allv.v,
         |   sqrt(allv.n2) AS nrm
         |  FROM allv JOIN a1 ON allv.vec_id = a1.vec_id AND a1.rn = 1),
         | approx AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) AS rank
         |  FROM asg q JOIN asg c
         |    ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |    AND q.cluster = c.cluster
         |  QUALIFY rank <= 10)
         |SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         | neighbor_id >= 1000000 AS is_appended
         |FROM approx ORDER BY q_id, rank""".stripMargin,

    // q132: q129's oracle with a probe CTE — each query's TWO nearest
    // learned cells by the same (d2, c_id) order; a candidate matches
    // exactly one probe (its own cell), so no dedup is needed
    "q132_ivf_nprobe2" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | d1 AS (SELECT nv.vec_id, c1n.c_id,
         |   nv.n2 + c1n.cn2 - 2.0 * ${dkDot("nv.v", "c1n.cv")} AS d2
         |  FROM nv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | asg AS (SELECT nv.vec_id, a1.c_id AS cluster, nv.v,
         |   sqrt(nv.n2) AS nrm
         |  FROM nv JOIN a1 ON nv.vec_id = a1.vec_id AND a1.rn = 1),
         | qp AS (SELECT vec_id AS q_id, c_id AS pcluster FROM d1
         |  WHERE vec_id < 50
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, c_id) <= 2),
         | exact AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM asg q JOIN asg c
         |    ON q.vec_id < 50 AND c.vec_id != q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | approx AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM asg q JOIN qp ON q.vec_id = qp.q_id
         |  JOIN asg c ON c.cluster = qp.pcluster
         |    AND c.vec_id != q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |   FROM exact e JOIN approx a
         |     ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
         |   GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM nv n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 50 ORDER BY q_id""".stripMargin,

    // Same |v|² + |c|² − 2·(v·c) expansion as Similarity.kmeansAssign
    // (each dot a left fold, the combining expression parsed
    // identically), argmin as rn = 1 with the (d2, c_id) tie-break.
    "q107_kmeans" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 4),
         | d AS (SELECT nv.vec_id, c.c_id,
         |   nv.n2 + c.cn2 - 2.0 * ${dkDot("nv.v", "c.cv")} AS d2,
         |   nv.v[1] AS v0
         |  FROM nv, c),
         | a AS (SELECT vec_id, c_id, d2, v0, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d)
         |SELECT c_id AS cluster, count(*) AS n_members,
         |  CAST(sum(CAST(floor(d2 * 1048576.0) AS BIGINT)) AS BIGINT)
         |    AS sum_d2_fx,
         |  CAST(sum(CAST(floor(v0 * 1048576.0) AS BIGINT)) AS BIGINT)
         |    AS sum_v0_fx
         |FROM a WHERE rn = 1 GROUP BY c_id ORDER BY cluster""".stripMargin,

    // Assignment CTE = q107's argmin (same |v|² + |c|² − 2·(v·c)
    // expansion, same (d2, c_id) tie-break); the dedup rule is
    // Similarity.semanticDedup's smaller-id-neighbor join stated
    // relationally: dup_of = min qualifying smaller id, kept = none.
    "q126_semantic_dedup" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d AS (SELECT nv.vec_id, c.c_id,
         |   nv.n2 + c.cn2 - 2.0 * ${dkDot("nv.v", "c.cv")} AS d2
         |  FROM nv, c),
         | a AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d),
         | asg AS (SELECT nv.vec_id, a.c_id AS cluster, nv.v,
         |   sqrt(nv.n2) AS nrm
         |  FROM nv JOIN a ON nv.vec_id = a.vec_id AND a.rn = 1),
         | dups AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM asg a JOIN asg b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${dkDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.25
         |  GROUP BY b.vec_id)
         |SELECT g.vec_id, g.cluster, (d.dup_of IS NULL) AS kept, d.dup_of
         |FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
         |ORDER BY g.vec_id""".stripMargin,

    // q128: q126's pipeline with centroids LEARNED by one Lloyd
    // iteration. The M-step reproduces kmeansMStep's arithmetic
    // exactly: per-dim integer sums of floor(v_i * 2^20) (order-free),
    // then double(sum)/double(n)/2^20 — each step IEEE-exact, so the
    // learned centroids (and every downstream distance) match Spark
    // bitwise. Note v is 1-indexed here vs dvec 0-indexed in Spark;
    // list(... ORDER BY i) keeps positions aligned.
    "q128_kmeans_semdedup" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | d1 AS (SELECT nv.vec_id, c1n.c_id,
         |   nv.n2 + c1n.cn2 - 2.0 * ${dkDot("nv.v", "c1n.cv")} AS d2
         |  FROM nv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | asg AS (SELECT nv.vec_id, a1.c_id AS cluster, nv.v,
         |   sqrt(nv.n2) AS nrm
         |  FROM nv JOIN a1 ON nv.vec_id = a1.vec_id AND a1.rn = 1),
         | dups AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM asg a JOIN asg b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${dkDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.25
         |  GROUP BY b.vec_id)
         |SELECT g.vec_id, g.cluster, (d.dup_of IS NULL) AS kept, d.dup_of
         |FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
         |ORDER BY g.vec_id""".stripMargin,

    // q137: q128's round-1 chain continued one more Lloyd round — the
    // same fixed-point M-step arithmetic makes round-2 centroids
    // bitwise identical, so the final assignment and the floor'd
    // objective sums agree exactly across engines
    "q137_kmeans_iter2" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | c0 AS (SELECT vec_id AS c_id, v AS cv, n2 AS cn2
         |  FROM nv WHERE vec_id < 8),
         | d0 AS (SELECT nv.vec_id, c0.c_id,
         |   nv.n2 + c0.cn2 - 2.0 * ${dkDot("nv.v", "c0.cv")} AS d2
         |  FROM nv, c0),
         | a0 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d0),
         | asg0 AS (SELECT nv.vec_id, a0.c_id AS cluster, nv.v
         |  FROM nv JOIN a0 ON nv.vec_id = a0.vec_id AND a0.rn = 1),
         | n0 AS (SELECT cluster, count(*) AS n FROM asg0 GROUP BY cluster),
         | ex AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg0 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s0 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex GROUP BY cluster, i),
         | c1 AS (SELECT s0.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s0 JOIN n0 ON s0.cluster = n0.cluster
         |  GROUP BY s0.cluster),
         | c1n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c1),
         | d1 AS (SELECT nv.vec_id, c1n.c_id,
         |   nv.n2 + c1n.cn2 - 2.0 * ${dkDot("nv.v", "c1n.cv")} AS d2
         |  FROM nv, c1n),
         | a1 AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1),
         | asg1 AS (SELECT nv.vec_id, a1.c_id AS cluster, nv.v
         |  FROM nv JOIN a1 ON nv.vec_id = a1.vec_id AND a1.rn = 1),
         | n1 AS (SELECT cluster, count(*) AS n FROM asg1 GROUP BY cluster),
         | ex1 AS (SELECT cluster, idx.i AS i,
         |   CAST(floor(v[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg1 CROSS JOIN
         |    (SELECT unnest(range(1, 65)) AS i) idx),
         | s1 AS (SELECT cluster, i, sum(fx) AS sfx
         |  FROM ex1 GROUP BY cluster, i),
         | c2 AS (SELECT s1.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM s1 JOIN n1 ON s1.cluster = n1.cluster
         |  GROUP BY s1.cluster),
         | c2n AS (SELECT c_id, cv, ${dkDot("cv", "cv")} AS cn2 FROM c2),
         | d2c AS (SELECT nv.vec_id, c2n.c_id,
         |   nv.n2 + c2n.cn2 - 2.0 * ${dkDot("nv.v", "c2n.cv")} AS d2
         |  FROM nv, c2n),
         | a2 AS (SELECT vec_id, c_id, d2, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d2c)
         |SELECT c_id AS cluster, count(*) AS n_members,
         | CAST(sum(CAST(floor(d2 * 1048576.0) AS BIGINT)) AS BIGINT)
         |   AS sum_d2_fx
         |FROM a2 WHERE rn = 1 GROUP BY c_id
         |ORDER BY cluster""".stripMargin,

    // same knn core as q35 (rank <= 10 over the same cosine, so ranks
    // are bit-identical), then vote/argmax in engine-identical SQL
    "q96_knn_label" ->
      s"""WITH $dkNormed,
         | knn AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM normed q JOIN normed c
         |    ON q.vec_id < 100 AND c.vec_id != q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${dkDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |      c.vec_id ASC) <= 10),
         | votes AS (SELECT q_id, e.label AS n_label, count(*) AS votes
         |   FROM knn JOIN embeddings e ON knn.neighbor_id = e.vec_id
         |   GROUP BY q_id, e.label),
         | pred AS (SELECT q_id, n_label, votes,
         |   row_number() OVER (PARTITION BY q_id
         |     ORDER BY votes DESC, n_label ASC) AS rn FROM votes)
         |SELECT p.q_id, p.n_label AS pred_label,
         |  CAST(p.votes AS BIGINT) AS votes,
         |  e.label AS true_label, (p.n_label = e.label) AS correct
         |FROM pred p JOIN embeddings e ON p.q_id = e.vec_id
         |WHERE rn = 1 ORDER BY q_id""".stripMargin,

    "q59_normalize" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | n AS (SELECT doc_id, toks,
        |   list_transform(toks, t -> regexp_replace(t, '(ing|ed|es|s)$', '')) AS stems
        |  FROM t)
        |SELECT doc_id,
        | len(list_distinct(toks))::BIGINT AS vocab_raw,
        | len(list_distinct(stems))::BIGINT AS vocab_stemmed,
        | array_to_string(stems[1:8], ' ') AS stem_head
        |FROM n ORDER BY doc_id""".stripMargin,

    "q60_normvec" ->
      """SELECT vec_id,
        | sqrt(list_reduce([0.0::DOUBLE] || list_transform(dv, x -> x * x),
        |   (acc, x) -> acc + x)) AS norm,
        | array_to_string(list_transform(dv[1:8],
        |   x -> CAST(floor((x / sqrt(list_reduce(
        |     [0.0::DOUBLE] || list_transform(dv, y -> y * y),
        |     (acc, y) -> acc + y))) * 1048576.0) AS BIGINT)), '|')
        |   AS unit_head8
        |FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
        |      FROM embeddings WHERE vec_id < 100)
        |ORDER BY vec_id""".stripMargin,

    "q44_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | c AS (SELECT doc_id, toks,
        |   unnest(range(0, greatest(CAST(ceil((len(toks) - 32) / 16.0) AS INT), 0) + 1)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  array_to_string(toks[chunk_id * 16 + 1 : chunk_id * 16 + 32], ' ') AS chunk_text,
        |  len(toks[chunk_id * 16 + 1 : chunk_id * 16 + 32])::BIGINT AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q45_redact" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com id ' || doc_id AS text
        | FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<email>', 'g'),
        |                 '[0-9]+', '<num>', 'g') AS redacted,
        |  len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<email>', 'g'),
        |                   '[0-9]+', '<num>', 'g'),
        |    '<(num|email)>'))::BIGINT AS n_redactions
        |FROM t ORDER BY doc_id""".stripMargin,

    "q46_split" -> {
      val h = dkCharHash("text")
      s"""WITH b AS (SELECT doc_id, $h % 100 AS bucket FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n, min(bucket) AS min_bucket, max(bucket) AS max_bucket
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin
    },

    "q47_sample" -> {
      val h = dkCharHash("text")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $h % 100 < 10 ORDER BY doc_id""".stripMargin
    },

    // DuckDB twin of q103: same exact-integer IPPS thresholds; `//`
    // is DuckDB's integer floor division (Spark: `div`), and the HT
    // weight is one IEEE division of exact integers in both engines
    "q103_weighted_sample" -> {
      val h = dkCharHash("text")
      val M = TextOps.HashP
      s"""WITH w AS (SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         | t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_w FROM w),
         | th AS (SELECT doc_id, text, n_tokens,
         |    least($M, (100 * n_tokens * $M) // total_w) AS thresh
         |  FROM w, t)
         |SELECT doc_id, n_tokens, thresh,
         |  CAST($M AS DOUBLE) / CAST(thresh AS DOUBLE) AS ht_weight
         |FROM th WHERE $h % $M < thresh
         |ORDER BY doc_id""".stripMargin
    },

    // DuckDB twin of q122: the same salt-keyed polynomial hash over
    // 'shuffle:' || doc_id, same shard mod and within-shard rank
    "q122_shard_shuffle" -> {
      val h = dkCharHash("'shuffle:' || doc_id::VARCHAR")
      s"""WITH h AS (SELECT doc_id, $h AS h FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    AS shard_pos
         |FROM h ORDER BY doc_id""".stripMargin
    },

    // DuckDB twin of q127 = q122's oracle verbatim: the write+readback
    // must reproduce the identical permutation from the file bytes
    "q127_shard_writeread" -> {
      val h = dkCharHash("'shuffle:' || doc_id::VARCHAR")
      s"""WITH h AS (SELECT doc_id, $h AS h FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    AS shard_pos
         |FROM h ORDER BY doc_id""".stripMargin
    },

    // q131: compaction must preserve content exactly and land on ONE
    // file at this targetBytes — the count and the defrag fact are
    // pinned as oracle columns, the rows prove the swap lost nothing
    "q131_compact_roundtrip" ->
      """SELECT doc_id, lang, source,
        | CAST(1 AS BIGINT) AS n_files_after, TRUE AS defragmented
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q135: same planted footer, same first-(doc_id, seg_idx)-wins
    // rule stated as a window, same delimiter-join reassembly
    "q135_paragraph_dedup" ->
      """WITH d2 AS (SELECT doc_id,
        |   text || '|follow us on example dot com ' || source AS t
        |  FROM documents),
        | sp AS (SELECT doc_id, string_split(t, '|') AS s FROM d2),
        | segs AS (SELECT doc_id, generate_subscripts(s, 1) - 1 AS seg_idx,
        |   unnest(s) AS seg FROM sp),
        | kept AS (SELECT doc_id, seg_idx, seg FROM segs
        |  QUALIFY row_number() OVER (PARTITION BY md5(seg)
        |    ORDER BY doc_id, seg_idx) = 1),
        | reb AS (SELECT doc_id, count(*) AS n_kept,
        |   string_agg(seg, '|' ORDER BY seg_idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        | cnt AS (SELECT doc_id, count(*) AS n_segs
        |  FROM segs GROUP BY doc_id)
        |SELECT c.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
        | c.n_segs, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
        |FROM cnt c LEFT JOIN reb r ON c.doc_id = r.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // q136: same planted footer, same first-(doc_id, pos)-wins rule as
    // a window over gram digests, same union-of-doomed-spans deletion,
    // same ordered-string_agg reassembly
    "q136_substr_dedup" ->
      """WITH d2 AS (SELECT doc_id,
        |   text || ' shared footer sentence for substring dedup from '
        |     || source AS t
        |  FROM documents),
        | sp AS (SELECT doc_id, string_split(t, ' ') AS s FROM d2),
        | toks AS (SELECT doc_id, generate_subscripts(s, 1) - 1 AS pos,
        |   unnest(s) AS tok FROM sp),
        | grams AS (SELECT doc_id, i - 1 AS pos,
        |   md5(array_to_string(s[i:i+4], ' ')) AS g
        |  FROM (SELECT doc_id, s, generate_subscripts(s, 1) AS i FROM sp)
        |  WHERE i + 4 <= len(s)),
        | doomed AS (SELECT DISTINCT doc_id, pos FROM (
        |   SELECT doc_id, unnest(range(pos, pos + 5)) AS pos
        |   FROM (SELECT doc_id, pos FROM grams
        |     QUALIFY row_number() OVER (PARTITION BY g
        |       ORDER BY doc_id, pos) > 1))),
        | kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM doomed x
        |    WHERE x.doc_id = t.doc_id AND x.pos = t.pos)),
        | reb AS (SELECT doc_id, count(*) AS n_kept,
        |   string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        | cnt AS (SELECT doc_id, count(*) AS n_toks FROM toks
        |  GROUP BY doc_id)
        |SELECT c.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
        | c.n_toks,
        | c.n_toks - CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM cnt c LEFT JOIN reb r ON c.doc_id = r.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // q142: same derived titles + planted typos; the oracle is the
    // honest all-pairs quadratic — valid at oracle scale only, which
    // is exactly why the Spark side blocks on deletion digests
    "q142_editdist_join" ->
      """WITH base AS (SELECT doc_id,
        |   array_to_string((string_split(text, ' '))[1:8], ' ') AS title
        |  FROM documents),
        | typo AS (SELECT doc_id + 100000 AS tid,
        |   substr(title, 1, CAST(doc_id % 10 + 1 AS INT)) || 'x' ||
        |     substr(title, CAST(doc_id % 10 + 3 AS INT)) AS title
        |  FROM base WHERE doc_id % 7 = 3),
        | s AS (SELECT doc_id, title FROM base
        |       UNION ALL SELECT tid, title FROM typo)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // q143: identical batch derivations; each version replays its
    // prefix of the log (anti-join on batch keys, upserts union in)
    "q143_snapshot_read" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        | u1 AS (SELECT doc_id, text || ' v1' AS text FROM base
        |         WHERE doc_id % 9 = 1
        |        UNION ALL SELECT doc_id + 2000000, text FROM base
        |         WHERE doc_id < 3),
        | v1 AS (SELECT doc_id, text FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM u1)
        |        UNION ALL SELECT doc_id, text FROM u1),
        | b2k AS (SELECT doc_id FROM base
        |         WHERE doc_id % 9 = 4 OR doc_id % 9 = 7),
        | v2 AS (SELECT doc_id, text FROM v1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM b2k)
        |        UNION ALL SELECT doc_id, text || ' v2' FROM base
        |         WHERE doc_id % 9 = 4)
        |SELECT CAST(1 AS BIGINT) AS version, doc_id,
        |  md5(text) AS text_md5 FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, md5(text) FROM v2
        |ORDER BY version, doc_id""".stripMargin,

    // q144: same planted 40%-prefix quotes, same distinct-5-shingle
    // sets; the oracle joins shared shingles directly (exact, no
    // prefix filter — the filter is recall-1, so results agree)
    "q144_containment_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        | quotes AS (SELECT doc_id + 300000 AS doc_id,
        |   array_to_string(toks[1:CAST((2 * len(toks) + 4) // 5 AS INT)],
        |     ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM base WHERE doc_id % 50 = 17)),
        | corpus AS (SELECT * FROM base UNION ALL SELECT * FROM quotes),
        | sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM corpus),
        | g AS (SELECT DISTINCT doc_id,
        |   md5(array_to_string(s[i:i+4], ' ')) AS gd
        |  FROM (SELECT doc_id, s, generate_subscripts(s, 1) AS i FROM sp)
        |  WHERE i + 4 <= len(s)),
        | sz AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
        | pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |   count(*) AS n_shared
        |  FROM g a JOIN g b USING (gd) WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a_id, p.b_id, p.n_shared, s.n_sh AS n_a,
        |  p.n_shared::DOUBLE / s.n_sh::DOUBLE AS containment
        |FROM pr p JOIN sz s ON p.a_id = s.doc_id
        |WHERE p.n_shared * 5 >= s.n_sh * 4
        |ORDER BY a_id, b_id""".stripMargin,

    // q145: the full PQ chain reproduced — same subspace slices, same
    // fixed-point per-(j, cluster) M-step (bitwise-equal codebooks),
    // same order-invariant argmin encode, same fixed-order 4-term ADC
    // sum — so approx AND exact top-10 sets match and recall is exact
    "q145_pq_recall" ->
      s"""WITH ev AS (SELECT vec_id,
         |   list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         | nv AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM ev),
         | subn AS (SELECT vec_id, jj.j AS j,
         |   v[jj.j*4+1 : jj.j*4+4] AS sv,
         |   ${dkDot("v[jj.j*4+1 : jj.j*4+4]",
                     "v[jj.j*4+1 : jj.j*4+4]")} AS sn2
         |  FROM ev CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj),
         | seeds AS (SELECT j, vec_id AS c_id, sv AS cv, sn2 AS cn2
         |  FROM subn WHERE vec_id < 16),
         | a0 AS (SELECT s.vec_id, s.j, c.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.j
         |    ORDER BY s.sn2 + c.cn2 - 2.0 * ${dkDot("s.sv", "c.cv")},
         |      c.c_id) AS rn
         |  FROM subn s JOIN seeds c ON s.j = c.j),
         | asg AS (SELECT s.vec_id, s.j, a.c_id AS cluster, s.sv
         |  FROM subn s JOIN a0 a
         |    ON s.vec_id = a.vec_id AND s.j = a.j AND a.rn = 1),
         | nct AS (SELECT j, cluster, count(*) AS n FROM asg
         |  GROUP BY j, cluster),
         | exf AS (SELECT j, cluster, idx.i AS i,
         |   CAST(floor(sv[idx.i] * 1048576.0) AS BIGINT) AS fx
         |  FROM asg CROSS JOIN (SELECT unnest(range(1, 5)) AS i) idx),
         | sums AS (SELECT j, cluster, i, sum(fx) AS sfx FROM exf
         |  GROUP BY j, cluster, i),
         | books0 AS (SELECT s.j, s.cluster AS c_id,
         |   list(CAST(sfx AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |        ORDER BY i) AS cv
         |  FROM sums s JOIN nct t ON s.j = t.j AND s.cluster = t.cluster
         |  GROUP BY s.j, s.cluster),
         | books AS (SELECT j, c_id, cv, ${dkDot("cv", "cv")} AS cn2
         |  FROM books0),
         | e0 AS (SELECT s.vec_id, s.j, b.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.j
         |    ORDER BY s.sn2 + b.cn2 - 2.0 * ${dkDot("s.sv", "b.cv")},
         |      b.c_id) AS rn
         |  FROM subn s JOIN books b ON s.j = b.j),
         | codes AS (SELECT vec_id, j, c_id AS code FROM e0 WHERE rn = 1),
         | dt AS (SELECT q.vec_id AS q_id, q.j, b.c_id,
         |   q.sn2 + b.cn2 - 2.0 * ${dkDot("q.sv", "b.cv")} AS d
         |  FROM subn q JOIN books b ON q.j = b.j WHERE q.vec_id < 20),
         | adc AS (SELECT d.q_id, c.vec_id, c.j, d.d
         |  FROM codes c JOIN dt d ON c.j = d.j AND c.code = d.c_id
         |  WHERE c.vec_id <> d.q_id),
         | summed AS (SELECT q_id, vec_id,
         |   ${(0 until 16).map(j =>
              s"max(CASE WHEN j = $j THEN d END)").mkString("\n         |   + ")} AS ad2
         |  FROM adc GROUP BY q_id, vec_id),
         | approx AS (SELECT q_id, vec_id AS neighbor_id FROM summed
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY ad2, vec_id) <= 10),
         | exact AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id
         |  FROM nv a JOIN nv b
         |    ON a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY a.n2 + b.n2 - 2.0 * ${dkDot("a.v", "b.v")},
         |      b.vec_id) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |  FROM exact e JOIN approx x
         |    ON e.q_id = x.q_id AND e.neighbor_id = x.neighbor_id
         |  GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM nv n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 20 ORDER BY q_id""".stripMargin,

    // q146: q129's learned-coarse-quantizer chain (verbatim CTEs)
    // composed with q145's PQ chain — candidates are the nprobe=2
    // probed cells, scored by the same fixed-order ADC sum; exact arm
    // is full-vector L2, so the recall number is cross-engine exact
    "q146_ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
         | approx AS (SELECT q_id, vec_id AS neighbor_id FROM summed
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY ad2, vec_id) <= 10),
         | exact AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id
         |  FROM nv a JOIN nv b
         |    ON a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY a.n2 + b.n2 - 2.0 * ${dkDot("a.v", "b.v")},
         |      b.vec_id) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |  FROM exact e JOIN approx x
         |    ON e.q_id = x.q_id AND e.neighbor_id = x.neighbor_id
         |  GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM nv n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 20 ORDER BY q_id""".stripMargin,

    // q175: the composed chain with an APPENDED batch — centroids and
    // codebooks learned from the BASE corpus only (frozen on append,
    // the faiss contract), cluster assignment and codes over
    // base ∪ batch, serving ranks cross-engine exact
    "q175_pq_append" ->
      s"""WITH $ivfPqCoreCtes,
         | evb AS (SELECT vec_id, v FROM ev
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id, v FROM ev
         |   WHERE vec_id < 20),
         | nvb AS (SELECT vec_id, v, ${dkDot("v", "v")} AS n2 FROM evb),
         | d1b AS (SELECT nvb.vec_id, c1n.c_id,
         |   nvb.n2 + c1n.cn2 - 2.0 * ${dkDot("nvb.v", "c1n.cv")} AS d2
         |  FROM nvb, c1n),
         | a1b AS (SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM d1b),
         | cellasgb AS (SELECT vec_id, c_id AS cluster FROM a1b
         |  WHERE rn = 1),
         | subnb AS (SELECT vec_id, jj.j AS j,
         |   v[jj.j*4+1 : jj.j*4+4] AS sv,
         |   ${dkDot("v[jj.j*4+1 : jj.j*4+4]",
                     "v[jj.j*4+1 : jj.j*4+4]")} AS sn2
         |  FROM evb CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj),
         | pe0b AS (SELECT s.vec_id, s.j, b.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.j
         |    ORDER BY s.sn2 + b.cn2 - 2.0 * ${dkDot("s.sv", "b.cv")},
         |      b.c_id) AS rn
         |  FROM subnb s JOIN pbooks b ON s.j = b.j),
         | codesb AS (SELECT vec_id, j, c_id AS code FROM pe0b
         |  WHERE rn = 1),
         | candb AS (SELECT p.q_id, c.vec_id
         |  FROM cellasgb c JOIN qp p ON c.cluster = p.cluster
         |  WHERE c.vec_id <> p.q_id),
         | adcb AS (SELECT n.q_id, n.vec_id, k.j, d.d
         |  FROM candb n JOIN codesb k ON n.vec_id = k.vec_id
         |  JOIN dt d ON d.q_id = n.q_id AND d.j = k.j
         |    AND d.c_id = k.code),
         | summedb AS (SELECT q_id, vec_id,
         |   ${(0 until 16).map(j =>
              s"max(CASE WHEN j = $j THEN d END)")
              .mkString("\n         |   + ")} AS ad2
         |  FROM adcb GROUP BY q_id, vec_id),
         | ranked AS (SELECT q_id, vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q_id
         |     ORDER BY ad2, vec_id) AS rank
         |  FROM summedb)
         |SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  neighbor_id >= 1000000 AS is_appended
         |FROM ranked WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    // q154: the same composed chain, shortlist 50 by ADC, exact-L2
    // re-rank of the shortlist — compression picks candidates, the
    // exact metric orders them
    "q154_ivfpq_rerank" ->
      s"""WITH $ivfPqCtes,
         | short AS (SELECT q_id, vec_id FROM summed
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY ad2, vec_id) <= 50),
         | rr AS (SELECT s.q_id, s.vec_id AS neighbor_id
         |  FROM short s
         |  JOIN nv a ON a.vec_id = s.q_id
         |  JOIN nv b ON b.vec_id = s.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY s.q_id
         |    ORDER BY a.n2 + b.n2 - 2.0 * ${dkDot("a.v", "b.v")},
         |      s.vec_id) <= 10),
         | exact AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id
         |  FROM nv a JOIN nv b
         |    ON a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY a.n2 + b.n2 - 2.0 * ${dkDot("a.v", "b.v")},
         |      b.vec_id) <= 10),
         | hits AS (SELECT e.q_id, count(*) AS hits
         |  FROM exact e JOIN rr x
         |    ON e.q_id = x.q_id AND e.neighbor_id = x.neighbor_id
         |  GROUP BY e.q_id)
         |SELECT n.vec_id AS q_id, COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
         |    AS recall
         |FROM nv n LEFT JOIN hits h ON n.vec_id = h.q_id
         |WHERE n.vec_id < 20 ORDER BY q_id""".stripMargin,

    // q147: the maintained summary must equal the from-scratch
    // aggregation of the CDC-merged table — the oracle replays the
    // same batch and aggregates directly
    "q147_incr_agg" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | upd AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |         UNION ALL
        |         SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | bk AS (SELECT doc_id FROM upd
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | merged AS (SELECT doc_id, source, n_chars FROM base
        |             WHERE doc_id NOT IN (SELECT doc_id FROM bk)
        |            UNION ALL SELECT doc_id, source, n_chars FROM upd)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s
        |FROM merged GROUP BY source ORDER BY source""".stripMargin,

    // q158: both CDC batches replayed in SQL (q147's merge shape,
    // chained), then aggregated from scratch — the maintained summary
    // must match it exactly, so the certificate is literal TRUE
    "q158_summary_log" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | u1 AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |        UNION ALL
        |        SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | k1 AS (SELECT doc_id FROM u1
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | s1 AS (SELECT doc_id, source, n_chars FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k1)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u1),
        | u2 AS (SELECT doc_id, source, n_chars + 500 AS n_chars
        |          FROM base WHERE doc_id % 11 = 5
        |        UNION ALL
        |        SELECT doc_id + 6000000, source, n_chars
        |          FROM base WHERE doc_id < 2),
        | k2 AS (SELECT doc_id FROM u2
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 3),
        | s2 AS (SELECT doc_id, source, n_chars FROM s1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k2)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u2)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
        | TRUE AS matches_replay
        |FROM s2 GROUP BY source ORDER BY source""".stripMargin,

    // q177: q158's two-batch merge chain, aggregated and filtered to
    // the two looked-up groups — the bucket-pruned point lookup must
    // serve exactly the replayed truth for them
    "q177_summary_lookup" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | u1 AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |        UNION ALL
        |        SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | k1 AS (SELECT doc_id FROM u1
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | s1 AS (SELECT doc_id, source, n_chars FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k1)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u1),
        | u2 AS (SELECT doc_id, source, n_chars + 500 AS n_chars
        |          FROM base WHERE doc_id % 11 = 5
        |        UNION ALL
        |        SELECT doc_id + 6000000, source, n_chars
        |          FROM base WHERE doc_id < 2),
        | k2 AS (SELECT doc_id FROM u2
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 3),
        | s2 AS (SELECT doc_id, source, n_chars FROM s1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k2)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u2)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s
        |FROM s2 WHERE source IN ('src3', 'src17')
        |GROUP BY source ORDER BY source""".stripMargin,

    // q173: q158's two-batch merge chain, then the from-scratch top-3
    // per source (same n_chars DESC, doc_id tie-break as topKView) —
    // the maintained view must match it exactly
    "q173_topk_log" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | u1 AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |        UNION ALL
        |        SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | k1 AS (SELECT doc_id FROM u1
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | s1 AS (SELECT doc_id, source, n_chars FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k1)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u1),
        | u2 AS (SELECT doc_id, source, n_chars + 500 AS n_chars
        |          FROM base WHERE doc_id % 11 = 5
        |        UNION ALL
        |        SELECT doc_id + 6000000, source, n_chars
        |          FROM base WHERE doc_id < 2),
        | k2 AS (SELECT doc_id FROM u2
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 3),
        | s2 AS (SELECT doc_id, source, n_chars FROM s1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k2)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u2),
        | ranked AS (SELECT source, doc_id, n_chars,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM s2)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars,
        | TRUE AS matches_replay
        |FROM ranked WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    // q163: q158's chain extended one batch, aggregated from scratch —
    // the latest summary must still match after retention pruned the
    // two superseded versions (2 pruned, 1 left)
    "q163_summary_retention" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | u1 AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |        UNION ALL
        |        SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | k1 AS (SELECT doc_id FROM u1
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | s1 AS (SELECT doc_id, source, n_chars FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k1)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u1),
        | u2 AS (SELECT doc_id, source, n_chars + 500 AS n_chars
        |          FROM base WHERE doc_id % 11 = 5
        |        UNION ALL
        |        SELECT doc_id + 6000000, source, n_chars
        |          FROM base WHERE doc_id < 2),
        | k2 AS (SELECT doc_id FROM u2
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 3),
        | s2 AS (SELECT doc_id, source, n_chars FROM s1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k2)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u2),
        | u3 AS (SELECT doc_id, source, n_chars + 250 AS n_chars
        |          FROM base WHERE doc_id % 11 = 9
        |        UNION ALL
        |        SELECT doc_id + 7000000, source, n_chars
        |          FROM base WHERE doc_id < 3),
        | k3 AS (SELECT doc_id FROM u3
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 5),
        | s3 AS (SELECT doc_id, source, n_chars FROM s2
        |         WHERE doc_id NOT IN (SELECT doc_id FROM k3)
        |        UNION ALL
        |        SELECT doc_id, source, n_chars FROM u3)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
        | TRUE AS matches_replay,
        | CAST(2 AS BIGINT) AS n_pruned,
        | CAST(1 AS BIGINT) AS n_versions_left
        |FROM s3 GROUP BY source ORDER BY source""".stripMargin,

    // q161: the three-batch chain replayed from scratch (q143's
    // shape, extended one batch) — rebase + continue must be
    // indistinguishable; 2 segments folded, 1 live after
    "q161_log_rebase" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        | u1 AS (SELECT doc_id, text || ' v1' AS text FROM base
        |         WHERE doc_id % 9 = 1
        |        UNION ALL SELECT doc_id + 2000000, text FROM base
        |         WHERE doc_id < 3),
        | v1 AS (SELECT doc_id, text FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM u1)
        |        UNION ALL SELECT doc_id, text FROM u1),
        | b2k AS (SELECT doc_id FROM base
        |         WHERE doc_id % 9 = 4 OR doc_id % 9 = 7),
        | v2 AS (SELECT doc_id, text FROM v1
        |         WHERE doc_id NOT IN (SELECT doc_id FROM b2k)
        |        UNION ALL SELECT doc_id, text || ' v2' FROM base
        |         WHERE doc_id % 9 = 4),
        | u3 AS (SELECT doc_id + 3000000 AS doc_id, text FROM base
        |         WHERE doc_id < 2),
        | b3k AS (SELECT doc_id FROM u3
        |        UNION ALL SELECT doc_id FROM base WHERE doc_id % 9 = 1),
        | v3 AS (SELECT doc_id, text FROM v2
        |         WHERE doc_id NOT IN (SELECT doc_id FROM b3k)
        |        UNION ALL SELECT doc_id, text FROM u3)
        |SELECT doc_id, md5(text) AS text_md5,
        | CAST(2 AS BIGINT) AS n_folded,
        | CAST(1 AS BIGINT) AS n_live_segments
        |FROM v3 ORDER BY doc_id""".stripMargin,

    // q162: from-scratch top-3 per source of the merged table (q147's
    // batch), same (n_chars DESC, doc_id ASC) tie-break
    "q162_topk_view" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents),
        | upd AS (SELECT doc_id, source, n_chars + 1000 AS n_chars
        |          FROM base WHERE doc_id % 11 = 3
        |         UNION ALL
        |         SELECT doc_id + 5000000, source, n_chars
        |          FROM base WHERE doc_id < 4),
        | bk AS (SELECT doc_id FROM upd
        |        UNION ALL
        |        SELECT doc_id FROM base WHERE doc_id % 11 = 7),
        | merged AS (SELECT doc_id, source, n_chars FROM base
        |             WHERE doc_id NOT IN (SELECT doc_id FROM bk)
        |            UNION ALL SELECT doc_id, source, n_chars FROM upd)
        |SELECT source, doc_id, n_chars, rank FROM (
        | SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rank
        | FROM merged)
        |WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    // q138: the partitioned+z-ordered copy must be a faithful
    // re-layout — same composed predicate on the plain table
    "q138_part_zorder" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars BETWEEN 50 AND 150
        |  AND doc_id BETWEEN 0 AND 150
        |ORDER BY doc_id""".stripMargin,

    // q133: the partitioned copy must be a faithful re-layout — same
    // predicate on the plain table
    "q133_partition_prune" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    // q134: identical update-set derivation; merged = base rows whose
    // key is untouched, plus every update row
    "q134_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        | upd AS (
        |  SELECT doc_id, upper(text) AS text, lang, source
        |  FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source
        |  FROM base WHERE doc_id < 5)
        |SELECT * FROM (
        |  SELECT b.doc_id, b.text, b.lang, b.source FROM base b
        |  WHERE b.doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB twin of q123: same 4-gram windows, same md5 digests, same
    // distinct-(doc, gram) semantics as Dedup.decontaminate
    "q123_decontaminate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |              FROM documents),
        | grams AS (SELECT doc_id, source, unnest(list_distinct(
        |     [md5(array_to_string(t[i:i+3], ' '))
        |      for i in range(1, len(t) - 2)])) AS g
        |   FROM toks WHERE len(t) >= 4),
        | bench AS (SELECT DISTINCT doc_id AS bench_doc_id, g
        |           FROM grams WHERE source = 'src0'),
        | corp AS (SELECT DISTINCT doc_id, g
        |          FROM grams WHERE source <> 'src0')
        |SELECT corp.doc_id,
        |  count(DISTINCT corp.g)::BIGINT AS n_hit_grams,
        |  count(DISTINCT bench.bench_doc_id)::BIGINT AS n_bench_docs
        |FROM corp JOIN bench USING (g)
        |GROUP BY corp.doc_id ORDER BY corp.doc_id""".stripMargin,

    // DuckDB twin of q124: identical PII derivation, RE2 equivalents of
    // the Java patterns (shared \b / class / bounded-repeat subset),
    // 'g' flag mirrors Spark's replace-all default
    "q124_pii_scrub" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
      val phone = "\\+[0-9]{7,15}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      s"""WITH pii AS (SELECT doc_id, text
         |    || ' contact user' || doc_id::VARCHAR
         |    || '@mail' || (doc_id % 7)::VARCHAR
         |    || '.example.com call +1'
         |    || lpad(((doc_id * 7919) % 10000000)::VARCHAR, 7, '0')
         |    || ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
         |    || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0')
         |    || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |    || ' from 10.' || (doc_id % 256)::VARCHAR
         |    || '.' || ((doc_id * 31) % 256)::VARCHAR || '.1'
         |    || CASE WHEN doc_id % 2 = 0 THEN
         |         ' cc ops-' || (doc_id % 5)::VARCHAR || '@ex.io'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 3 = 0 THEN
         |         ' via 192.168.' || (doc_id % 100)::VARCHAR || '.254'
         |       ELSE '' END AS pii_text
         |  FROM documents),
         | scrub AS (SELECT doc_id, pii_text,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      pii_text, '$email', '<EMAIL>', 'g'),
         |      '$ssn', '<ID>', 'g'),
         |      '$phone', '<PHONE>', 'g'),
         |      '$ip', '<IP>', 'g') AS scrubbed
         |  FROM pii)
         |SELECT doc_id,
         |  len(regexp_extract_all(pii_text, '$email'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(pii_text, '$ssn'))::BIGINT AS n_ids,
         |  len(regexp_extract_all(pii_text, '$phone'))::BIGINT AS n_phones,
         |  len(regexp_extract_all(pii_text, '$ip'))::BIGINT AS n_ips,
         |  md5(scrubbed) AS scrub_md5,
         |  (length(pii_text) - length(scrubbed))::BIGINT AS len_delta
         |FROM scrub ORDER BY doc_id""".stripMargin
    },

    "q48_contamination" -> {
      val h = dkCharHash("text")
      val sh8 =
        "CASE WHEN len(toks) >= 8 THEN list_distinct([" +
          (0 until 8).map(j => s"toks[i+$j]").mkString(" || ' ' || ") +
          " for i in range(1, len(toks) - 6)]) ELSE [] END"
      s"""WITH b AS (SELECT doc_id, text, $h % 100 AS bucket FROM documents),
         | tr AS (SELECT train_id, unnest(sh) AS sh FROM
         |   (SELECT doc_id AS train_id, $sh8 AS sh
         |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM b
         |          WHERE bucket < 80))),
         | te AS (SELECT test_id, unnest(sh) AS sh FROM
         |   (SELECT doc_id AS test_id, $sh8 AS sh
         |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM b
         |          WHERE bucket >= 90)))
         |SELECT test_id, count(DISTINCT train_id) AS n_train_docs,
         |  count(*) AS n_shared_ngrams
         |FROM te JOIN tr USING (sh)
         |GROUP BY test_id ORDER BY test_id""".stripMargin
    },

    "q64_quantize" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
        |           FROM embeddings WHERE vec_id < 100),
        | s AS (SELECT vec_id, dv,
        |         list_max(list_transform(dv, x -> abs(x))) AS mx FROM d),
        | qz AS (SELECT vec_id, 127.0 / mx AS qscale,
        |         list_transform(dv,
        |           x -> CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)) AS qvec
        |        FROM s WHERE mx > 0.0)
        |SELECT vec_id,
        | CAST(floor(qscale * 1048576.0) AS BIGINT) AS qscale_fx,
        | array_to_string(qvec[1:8], '|') AS q_head8,
        | list_reduce([0::BIGINT] || qvec, (a, x) -> a + x) AS q_sum,
        | list_min(qvec) AS q_min,
        | list_max(qvec) AS q_max
        |FROM qz ORDER BY vec_id""".stripMargin,

    "q67_ann_int8" ->
      """WITH d AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
        |           FROM embeddings),
        | s AS (SELECT vec_id, dv,
        |         list_max(list_transform(dv, x -> abs(x))) AS mx FROM d),
        | qz AS (SELECT vec_id,
        |         list_transform(dv,
        |           x -> CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)) AS qvec
        |        FROM s WHERE mx > 0.0),
        | qn AS (SELECT vec_id, qvec,
        |         sqrt(list_reduce([0.0::DOUBLE] ||
        |           list_transform(qvec, x -> (x * x)::DOUBLE),
        |           (a, x) -> a + x)) AS qnorm FROM qz),
        | scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |   list_reduce([0::BIGINT] || list_transform(
        |     list_zip(q.qvec, c.qvec), p -> p[1] * p[2]),
        |     (a, x) -> a + x) AS ip,
        |   q.qnorm * c.qnorm AS nn
        |  FROM qn q JOIN qn c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        |SELECT q_id, neighbor_id,
        | row_number() OVER (PARTITION BY q_id
        |   ORDER BY ip::DOUBLE / nn DESC, neighbor_id ASC)::BIGINT AS rank,
        | ip, ip::DOUBLE / nn AS qcos
        |FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q65_stratified_sample" -> {
      val h = dkCharHash("text")
      s"""SELECT doc_id, lang, h % 100 AS bucket,
         | (CASE WHEN lang = 'en' THEN 5 WHEN lang = 'zh' THEN 30
         |       ELSE 15 END)::BIGINT AS keep_rate
         |FROM (SELECT doc_id, lang, $h AS h FROM documents)
         |WHERE h % 100 < CASE WHEN lang = 'en' THEN 5
         |                     WHEN lang = 'zh' THEN 30 ELSE 15 END
         |ORDER BY doc_id""".stripMargin
    },

    "q66_subword_vocab" ->
      """SELECT subword, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
        |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{1,4}'))
        |        AS subword FROM documents)
        |GROUP BY subword ORDER BY n DESC, subword LIMIT 100""".stripMargin,

    "q38_media_bytes" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  md5(text) AS digest,
        |  upper(hex(substr(text, 1, 4))) AS head_hex,
        |  ascii(substr(text, 1, 1))::BIGINT AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q83_cluster_canonical" ->
      s"""WITH RECURSIVE $dkSh,
         | pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |   (len(a.shingles) + len(b.shingles)
         |    - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.8),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         | r(id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         | reach AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         | qm AS (SELECT doc_id,
         |   len(toks)::BIGINT AS n_tokens,
         |   len(list_distinct(toks))::BIGINT AS n_distinct,
         |   len(list_filter(toks, t -> list_contains([$enMarkers], t)))::BIGINT
         |     AS n_stop
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |        FROM documents)),
         | q AS (SELECT doc_id,
         |   0.4 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
         |    + 0.3 * least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0)
         |    + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens::DOUBLE) AS quality
         |  FROM qm)
         |SELECT reach.cluster, count(*) AS n_docs,
         | -((max(struct_pack(q := quality, nid := -doc_id))).nid) AS best_doc,
         | (max(struct_pack(q := quality, nid := -doc_id))).q AS best_quality
         |FROM reach JOIN q ON reach.id = q.doc_id
         |GROUP BY reach.cluster ORDER BY reach.cluster""".stripMargin,

    "q80_packing" ->
      """WITH t AS (SELECT doc_id, lang,
        |   len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        | c AS (SELECT doc_id, lang, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |     AS cum_tokens FROM t)
        |SELECT doc_id, lang, n_tokens, cum_tokens,
        | ((cum_tokens - n_tokens) // 256)::BIGINT AS window_id,
        | ((cum_tokens - n_tokens) % 256)::BIGINT AS window_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // Exact closure oracle: all-pairs Jaccard >= 0.8 (valid for the same
    // recall-gap reason as q32's oracle), then a recursive CTE computes
    // the min reachable id per doc.
    "q79_dup_clusters" ->
      s"""WITH RECURSIVE $dkSh,
         | pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |   (len(a.shingles) + len(b.shingles)
         |    - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.8),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         | r(id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         | reach AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id)
         |SELECT d.doc_id, reach.cluster,
         |  d.doc_id = reach.cluster AS is_canonical
         |FROM documents d JOIN reach ON d.doc_id = reach.id
         |ORDER BY d.doc_id""".stripMargin,

    // Single-IEEE-op-per-step arithmetic (divide, min, multiply, divide,
    // exact 2^20 scale, floor) — bit-identical across engines.
    // LEFT join from targets (as the operator): an absent targeted
    // language zeroes the budget instead of being dropped.
    "q90_mixture_plan" ->
      """WITH a AS (SELECT lang,
        |  sum(len(string_split(text, ' ')))::BIGINT AS avail_tokens
        | FROM documents GROUP BY lang),
        | t(lang, share) AS (VALUES ('en', 0.5), ('zh', 0.3), ('de', 0.2)),
        | j AS (SELECT t.lang, coalesce(avail_tokens, 0)::BIGINT AS avail_tokens,
        |   share, coalesce(avail_tokens, 0)::DOUBLE / share AS ratio
        |  FROM t LEFT JOIN a ON t.lang = a.lang),
        | m AS (SELECT min(ratio) AS budget FROM j)
        |SELECT lang, avail_tokens,
        | CAST(floor(share * budget) AS BIGINT) AS planned_tokens,
        | CASE WHEN avail_tokens = 0 THEN 0::BIGINT
        |      ELSE CAST(floor(share * budget / avail_tokens::DOUBLE
        |        * 1048576.0) AS BIGINT) END AS keep_rate_fx
        |FROM j, m ORDER BY lang""".stripMargin,

    // Composition oracle: each stage reuses the fragment its standalone
    // query already hash-matches (q31 dedup window, q28 quality, q46
    // split buckets), so the only new surface is the final rollup.
    "q87_corpus_prep" -> {
      val h = dkCharHash("text")
      s"""WITH dd AS (SELECT doc_id, text, lang,
         |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
         | FROM documents),
         | q AS (SELECT doc_id, text, lang,
         |   len(toks)::BIGINT AS n_tokens,
         |   0.4 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
         |    + 0.3 * least(1.0::DOUBLE, len(toks)::DOUBLE / 100.0)
         |    + 0.3 * (1.0 - len(list_filter(toks,
         |        t -> list_contains([$enMarkers], t)))::DOUBLE
         |        / len(toks)::DOUBLE) AS quality
         |  FROM (SELECT doc_id, text, lang, string_split(text, ' ') AS toks
         |        FROM dd WHERE keep)),
         | s AS (SELECT lang, n_tokens, quality, $h % 100 AS bucket
         |       FROM q WHERE quality >= 0.5)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         | lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
         | min(quality) AS min_quality
         |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
    },

    // Exact all-pairs Jaccard restricted to pairs touching the batch —
    // valid oracle for the same recall-gap reason as q32's.
    "q84_incremental_dedup" ->
      s"""WITH $dkSh
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE (a.doc_id % 5 = 4 OR b.doc_id % 5 = 4)
         |  AND len(list_intersect(a.shingles, b.shingles))::DOUBLE /
         |  (len(a.shingles) + len(b.shingles)
         |   - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q85_boilerplate" ->
      s"""WITH $dkSh,
         | ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         | dfq AS (SELECT shingle, count(*) AS doc_freq FROM ex
         |         GROUP BY shingle),
         | per AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |   sum(CASE WHEN doc_freq >= 3 THEN 1 ELSE 0 END)::BIGINT
         |     AS n_boiler
         |  FROM ex JOIN dfq USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id,
         | coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
         | coalesce(per.n_boiler, 0)::BIGINT AS n_boiler,
         | CASE WHEN coalesce(per.n_shingles, 0) = 0 THEN 0.0::DOUBLE
         |      ELSE per.n_boiler::DOUBLE / per.n_shingles::DOUBLE
         | END AS boiler_ratio
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q78_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        | b AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens,
        |   CASE WHEN len(toks) >= 2 THEN
        |     [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        |   ELSE [] END AS bigrams FROM t)
        |SELECT doc_id, n_tokens,
        | (len(bigrams) - len(list_distinct(bigrams)))::BIGINT
        |   AS n_dup_bigrams,
        | CASE WHEN len(bigrams) = 0 THEN 0.0::DOUBLE
        |      ELSE (len(bigrams) - len(list_distinct(bigrams)))::DOUBLE
        |           / len(bigrams)::DOUBLE END AS dup_bigram_ratio,
        | list_max(list_transform(list_distinct(toks),
        |   t -> len(list_filter(toks, x -> x = t))))::BIGINT AS top_tok_count,
        | list_max(list_transform(list_distinct(toks),
        |   t -> len(list_filter(toks, x -> x = t))))::DOUBLE
        |   / n_tokens::DOUBLE AS top_tok_ratio
        |FROM b ORDER BY doc_id""".stripMargin,

    // ASCII fixture text ⇒ VARCHAR char ops mirror byte ops exactly
    // (as q74); DuckDB's indexed list_filter lambda ((c, i), 1-based)
    // reproduces the every-factor-th-byte stride.
    "q86_resize" ->
      """WITH r AS (SELECT doc_id AS media_id,
        |  octet_length(encode(text))::BIGINT AS orig_bytes,
        |  array_to_string(list_filter(string_split(text, ''),
        |    (c, i) -> (i - 1) % 2 = 0), '') AS resized
        | FROM documents)
        |SELECT media_id, orig_bytes,
        | octet_length(encode(resized))::BIGINT AS resized_bytes,
        | upper(hex(substr(resized, 1, 8))) AS head_hex
        |FROM r ORDER BY media_id""".stripMargin,

    // The fixture text is pure ASCII (1 byte per char), so VARCHAR
    // substr mirrors the Spark side's binary slicing byte-for-byte
    // (DuckDB cannot slice BLOBs).
    "q74_frames" ->
      """WITH nf AS (SELECT doc_id AS media_id, text,
        |   CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames
        |  FROM documents),
        | f AS (SELECT media_id, text,
        |   unnest(list_filter(range(0, greatest(n_frames - 1, 0) + 1),
        |     x -> x % 2 = 0)) AS frame_no
        |  FROM nf)
        |SELECT media_id, frame_no,
        | octet_length(encode(substr(text, frame_no * 64 + 1, 64)))::BIGINT
        |   AS n_frame_bytes,
        | upper(hex(substr(text, frame_no * 64 + 1, 8))) AS head_hex
        |FROM f ORDER BY media_id, frame_no""".stripMargin
  )
}
