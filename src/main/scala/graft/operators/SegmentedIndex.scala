package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Segmented full-text index — Lucene's actual storage architecture
  * (the engine under the reference's delegated Elasticsearch search:
  * `/root/reference/api/controllers/elastic_controller.go:197-224`
  * pushes documents into ES, and every ES shard IS a Lucene index of
  * immutable segments + live-docs tombstones) rebuilt on Spark:
  *
  *  - each ingested batch lands as an IMMUTABLE segment
  *    `seg=<fp>/tb=<bucket>/` of postings (term, doc_id, tf, dl),
  *    hive-partitioned by a term-hash bucket so a query's literal
  *    terms prune to their buckets at planning time across every
  *    segment at once;
  *  - deletes are TOMBSTONE segments `del=<fp>/` of doc_ids — Lucene's
  *    live-docs bitmap: the postings of a deleted doc stay in place
  *    until a merge, results just skip them;
  *  - visibility is a manifest committed as a monotonically numbered
  *    GENERATION (`_SEGMENTS.g<n>`) by one create-exclusive atomic
  *    rename (the Delta commit-log shape): data directories are
  *    invisible until referenced, so a crashed writer leaves only an
  *    orphan (reclaimed by [[vacuum]]), never a torn index — and two
  *    racing manifest writers (a streaming append vs a maintenance
  *    merge) collide on the generation number, so the loser FAILS
  *    LOUDLY and re-reads instead of silently dropping the winner's
  *    committed segment;
  *  - [[merge]] folds all live segments into one, APPLIES the
  *    tombstones, and supersedes the olds — Lucene's segment merge
  *    ([[vacuum]] reclaims the retired directories once aged).
  *
  * Scoring follows Lucene's statistics semantics EXACTLY: corpus
  * stats (N, total length) come from the per-segment header rows
  * written at ingest and df from the (still tombstone-bearing)
  * postings — deleted documents keep counting toward N and df UNTIL A
  * MERGE rewrites the segments (Lucene's IndexSearcher does the same:
  * deletes affect hit lists immediately, stats only after merge).
  * q165/q166 pin both phases against a DuckDB oracle.
  *
  * Scale shape: ingest is O(batch) — one postings write + one
  * manifest rename, the standing index is never read or rewritten;
  * a query reads only the queried terms' buckets of each live segment
  * (planning-time `tb IN` partition filters) plus a driver-side
  * O(segments) manifest parse; merge is the one full-index pass,
  * amortized over every batch it retires. Segment count stays bounded
  * by merge cadence, exactly Lucene's tiered-merge contract.
  */
object SegmentedIndex {

  private val Seed = 42L // xxhash64() SQL function's fixed seed

  /** The term's bucket, computed identically on the driver (literal
    * term → partition filter) and in the ingest plan (column). */
  private def termBucket(term: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions
      .XxHash64(Seq(org.apache.spark.sql.catalyst.expressions
        .Literal(org.apache.spark.unsafe.types.UTF8String.fromString(term),
          org.apache.spark.sql.types.StringType)), Seed)
      .eval().asInstanceOf[Long]
    ((h % nBuckets) + nBuckets).toInt % nBuckets
  }

  private[operators] case class Seg(kind: String, name: String, nDocs: Long,
                         totalLen: Long)

  /** How many superseded manifest generations [[writeManifest]] keeps
    * behind the newest before pruning them — covers any reader that
    * listed generations an instant before a burst of commits. */
  private val KeepGenerations = 8

  /** Committed manifest generation files `_SEGMENTS.g<n>`, ascending
    * by generation. */
  private def manifestGens(
      root: java.io.File): Seq[(Long, java.io.File)] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("_SEGMENTS.g"))
      .map(f => (f.getName.stripPrefix("_SEGMENTS.g").toLong, f))
      .sortBy(_._1)

  private def hasManifest(root: java.io.File): Boolean =
    manifestGens(root).nonEmpty

  /** Parse the NEWEST manifest generation: (nBuckets, live segments
    * in commit order, generation). O(segments) driver work — bounded
    * by merge cadence, never by corpus size. */
  private[operators] def readManifest(root: java.io.File): (Int, Seq[Seg], Long) = {
    val gens = manifestGens(root)
    require(gens.nonEmpty, s"no segmented index at $root")
    val (gen, f) = gens.last
    val (nb, segs) = parseManifest(f)
    (nb, segs, gen)
  }

  /** Header lines a manifest may carry besides `nb=` (first line):
    * `an=` (analyzer chain) and `cf=` (completion-field mapping). A
    * segment line never collides — its first comma-field is a bare
    * kind (`seg`/`del`). */
  private def isHeaderLine(l: String): Boolean =
    l.startsWith("an=") || l.startsWith("cf=")

  private def parseManifest(f: java.io.File): (Int, Seq[Seg]) = {
    val lines = java.nio.file.Files
      .readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
    val nBuckets = lines.head.stripPrefix("nb=").toInt
    (nBuckets, lines.tail.filterNot(isHeaderLine).map { l =>
      val Array(kind, name, nd, tl) = l.split(",")
      Seg(kind, name, nd.toLong, tl.toLong)
    })
  }

  /** The index's ANALYZER name from the newest manifest generation's
    * `an=` header — an index-creation-time property (every segment is
    * analyzed identically; [[reindex]] is the migration path, exactly
    * ES's analyzer-change recipe). A pre-analyzer manifest reads as
    * whitespace — the chain those indexes were built with. */
  private def analyzerNameOf(root: java.io.File): String = {
    val gens = manifestGens(root)
    if (gens.isEmpty) return Analyzer.Whitespace.name
    java.nio.file.Files.readAllLines(gens.last._2.toPath)
      .toArray(Array.empty[String]).toSeq
      .find(_.startsWith("an=")).map(_.stripPrefix("an="))
      .getOrElse(Analyzer.Whitespace.name)
  }

  private[operators] def readAnalyzer(root: java.io.File): Analyzer.Chain =
    Analyzer.byName(analyzerNameOf(root))

  /** The index's COMPLETION-FIELD mapping from the newest manifest
    * generation's `cf=<inputField>:<weightField>` header — ES's
    * completion mapping, an index-creation-time property like the
    * analyzer: it declares which stored field supplies suggestion
    * inputs and which supplies their doc-weights, so [[append]] can
    * materialize the per-segment `_cfield/` suggest artifact at write
    * time (ES builds its completion FST at index time for the same
    * reason). Absent on unmapped indexes — [[completionFieldSuggest]]
    * then serves its documented stored-scan fallback. */
  private def cfHeaderOf(root: java.io.File): Option[String] = {
    val gens = manifestGens(root)
    if (gens.isEmpty) return None
    java.nio.file.Files.readAllLines(gens.last._2.toPath)
      .toArray(Array.empty[String]).toSeq
      .find(_.startsWith("cf=")).map(_.stripPrefix("cf="))
  }

  /** The completion mapping parsed: (input field, weight field,
    * optional CONTEXT field) — the third component is ES's
    * completion CONTEXTS (category contexts: each suggestion carries
    * a context value and a suggest request may filter on one).
    * Two-part headers (pre-context indexes) parse with no context —
    * the artifact schema evolution is the read-side explicit schema
    * (missing `ctx` columns read as null). */
  private def cfTripleOf(root: java.io.File)
      : Option[(String, String, Option[String])] =
    cfHeaderOf(root).map { h =>
      h.split(":", -1) match {
        case Array(in, w)      => (in, w, None)
        case Array(in, w, ctx) => (in, w, Some(ctx))
        case _ => throw new IllegalArgumentException(
          s"malformed cf= manifest header '$h' at $root")
      }
    }

  private def cfPairOf(root: java.io.File): Option[(String, String)] =
    cfTripleOf(root).map(t => (t._1, t._2))

  /** Serialize + validate a completion-field mapping for the `cf=`
    * header. Plain identifier names only — the header is one line of
    * a text manifest and the fields must be addressable columns. */
  private def cfSpec(cf: (String, String),
                     ctx: Option[String] = None): String = {
    (Seq(cf._1, cf._2) ++ ctx.toSeq).foreach(f =>
      require(f.matches("[A-Za-z0-9_]+"),
        s"completion-field names must match [A-Za-z0-9_]+: '$f'"))
    (Seq(cf._1, cf._2) ++ ctx.toSeq).mkString(":")
  }

  /** The index's completion-field mapping — public introspection
    * (ES's `GET /idx/_mapping` for the completion field). */
  def completionFieldOf(rootDir: String): Option[(String, String)] =
    cfPairOf(new java.io.File(rootDir))

  /** The completion mapping's CONTEXT field, when mapped. */
  def completionContextOf(rootDir: String): Option[String] =
    cfTripleOf(new java.io.File(rootDir)).flatMap(_._3)

  /** The federation PRECONDITION, enforced: every multi-index reader
    * that analyzes query terms does so ONCE with the first index's
    * chain, which is only sound when all federated indices share it
    * (ES analyzes per-index; this engine's lossless-global-stats
    * contract pools df/N across members, which presumes one
    * vocabulary). A rollover family satisfies this by construction —
    * [[rollover]]/[[snapshot]]/[[reindex]] inherit the manifest's
    * `an=` header — so this is one manifest-header read per member
    * (no data touched) that turns the silent-wrong-hits failure of a
    * mixed federation into a loud error. */
  private def requireUniformAnalyzer(
      indices: Seq[(String, String)]): Unit = {
    val chains = indices
      .map { case (name, dir) =>
        name -> analyzerNameOf(new java.io.File(dir)) }
    require(chains.map(_._2).distinct.size <= 1,
      "federated indices must share one analyzer chain (got " +
        chains.map { case (n, a) => s"$n=$a" }.mkString(", ") +
        "); reindex the divergent members — per-index analysis is " +
        "unsupported in federation")
  }

  /** The index's analyzer name — public so callers can introspect
    * (ES's `GET /idx/_settings` analyzer readback). */
  def analyzerOf(rootDir: String): String =
    analyzerNameOf(new java.io.File(rootDir))

  /** QUERY-SIDE analysis: search literals run through the index's own
    * chain before touching the postings (ES analyzes match-query input
    * with the field's analyzer) — stopword query terms drop, case
    * folds, stems align with the indexed vocabulary. */
  private[operators] def qTerms(root: java.io.File, terms: Seq[String]): Seq[String] =
    Analyzer.queryTerms(readAnalyzer(root), terms)

  /** Parse a SPECIFIC retained manifest generation — the reader-side
    * pin behind [[searchAt]]. Fails loudly once the generation has
    * been pruned (more than [[KeepGenerations]] commits behind). */
  private def readManifestAt(root: java.io.File,
                             gen: Long): (Int, Seq[Seg]) = {
    val f = manifestGens(root).find(_._1 == gen).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"manifest generation $gen is not retained at $root " +
          s"(retained: ${manifestGens(root).map(_._1).mkString(",")})"))
    parseManifest(f)
  }

  /** The retained manifest generations, ascending — ES's open PIT
    * handles, structurally: each is a complete immutable view of the
    * index that [[searchAt]] can serve. */
  def generations(rootDir: String): Seq[Long] =
    manifestGens(new java.io.File(rootDir)).map(_._1)

  /** Retire superseded manifest generations — ES's close-PIT /
    * Lucene's IndexDeletionPolicy release: drop every generation file
    * except the newest `keep`, optionally only those older than
    * `olderThanMs` (an age-based keep-alive, ES's PIT `keep_alive`).
    * This is what makes post-merge space reclaim REACHABLE: [[vacuum]]
    * keeps a directory alive while ANY retained generation references
    * it (the [[searchAt]] PIT contract), so a merge's superseded
    * segments stay on disk until the pre-merge generations are retired
    * — either by [[writeManifest]]'s rolling [[KeepGenerations]]
    * window as commits accrue, or EXPLICITLY here when a
    * low-commit-rate index shouldn't defer reclaim indefinitely.
    * Returns the number of generation files retired. */
  def retireGenerations(rootDir: String, keep: Int = 1,
                        olderThanMs: Long = 0L): Int = {
    require(keep >= 1, s"must keep at least the newest generation: $keep")
    val root = new java.io.File(rootDir)
    val gens = manifestGens(root)
    require(gens.nonEmpty, s"no segmented index at $root")
    val now = System.currentTimeMillis()
    val victims = gens.dropRight(keep)
      .filter { case (_, f) => now - f.lastModified() >= olderThanMs }
    victims.foreach(_._2.delete())
    victims.size
  }

  /** Commit manifest generation `prevGen + 1`: full rewrite, ONE
    * create-exclusive atomic rename through the portable seam
    * ([[graft.engine.Fs.renameNoReplace]]). Readers see the previous
    * generation or this one, never a prefix — and a writer racing
    * another manifest-writing operation (streaming append vs a
    * maintenance merge/vacuum job) FAILS LOUDLY with
    * FileAlreadyExistsException instead of silently dropping the
    * winner's committed segment from the manifest. Nothing here
    * retries: [[commitBatch]] adopts a lost race only when the
    * winner's manifest already holds the loser's own batch, and any
    * other loser's operation must be re-run, re-reading the new
    * generation. The loser's temp file is removed. Superseded
    * generation files beyond [[KeepGenerations]] are pruned here
    * (tiny, but otherwise one file per commit forever). */
  private def writeManifest(root: java.io.File, nBuckets: Int,
                            segs: Seq[Seg], prevGen: Long,
                            an: Option[String] = None,
                            cf: Option[String] = None): Unit = {
    // the analyzer + completion-mapping headers travel with every
    // commit: explicit at index creation, preserved from the previous
    // generation after (None = preserve)
    val anName = an.getOrElse(analyzerNameOf(root))
    val cfName = cf.orElse(cfHeaderOf(root))
    val tmp = new java.io.File(root, "_SEGMENTS.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val body = (Seq(s"nb=$nBuckets", s"an=$anName") ++
      cfName.map(c => s"cf=$c").toSeq ++ segs.map(s =>
      s"${s.kind},${s.name},${s.nDocs},${s.totalLen}")).mkString("\n")
    java.nio.file.Files.writeString(tmp.toPath, body)
    try graft.engine.Fs.renameNoReplace(tmp,
      new java.io.File(root, f"_SEGMENTS.g${prevGen + 1}%013d"))
    catch { case e: Throwable => tmp.delete(); throw e }
    manifestGens(root).dropRight(KeepGenerations)
      .foreach(_._2.delete())
  }

  /** Commit one ingest batch's manifest lines — [[append]], [[delete]]
    * and [[upsert]] all publish through here. `batch` is the batch's
    * own manifest name (its `seg=`/`del=` fingerprint). A writer that
    * loses the generation rename to a writer of the SAME batch (two
    * stagers of one fixture: both staged the same immutable artifact)
    * finds `batch` in the winner's manifest and adopts that commit;
    * losing to any other commit rethrows unchanged, the loud
    * lost-update failure of [[writeManifest]]. */
  private def commitBatch(root: java.io.File, batch: String, nb: Int,
                          segs: Seq[Seg], prevGen: Long,
                          an: Option[String] = None,
                          cf: Option[String] = None): Unit =
    try writeManifest(root, nb, segs, prevGen, an, cf)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        if (!readManifest(root)._2.exists(_.name == batch)) throw e
    }

  /** TEST SEAM for the lost-update contract: replay a writer whose
    * read-modify-write was overtaken — it re-commits the CURRENT
    * manifest body against a STALE predecessor generation, which must
    * collide on the create-exclusive rename and throw, never silently
    * replace the winner. (The interleaving cannot be produced through
    * the public API without a real concurrent writer.) */
  private[operators] def commitStaleManifestForTest(root: java.io.File,
      stalePrevGen: Long): Unit = {
    val (nb, segs, _) = readManifest(root)
    writeManifest(root, nb, segs, stalePrevGen)
  }

  /** Postings of one batch with the partition bucket column. The
    * per-occurrence POSITIONS ride inline as a sorted array — what
    * Lucene stores in its postings lists when a field is indexed
    * with positions — so the same segment family serves term, BM25
    * AND exact-phrase queries; tf stays materialized beside them
    * (it is `size(positions)`, but scoring reads it constantly). */
  private def segPostings(docs: DataFrame, nBuckets: Int,
                          an: Analyzer.Chain): DataFrame =
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        Analyzer.dl(an, "text").as("dl"),
        explode(Analyzer.posTerms(an, "text")).as("pt"))
      .select(col("doc_id"), col("dl"),
        col("pt.pos").as("pos"), col("pt.term").as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long")))
          .as("positions"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets))
        .cast("int"))
      // one write task per bucket: without this, every shuffle
      // partition writes into every tb directory — up to
      // (shuffle.partitions × nBuckets) tiny files PER SEGMENT, which
      // bloats both the ingest and every later pruned read's file
      // listing. Per-batch segments are batch-sized; nBuckets tasks
      // is the right parallelism for them.
      .repartition(nBuckets, col("tb"))

  /** Ingest one batch as an immutable segment. Idempotent per
    * `batchKey` (the manifest membership check + the staged dir's
    * marker make warm retries no-ops); crash-safe (data first,
    * manifest rename second — a writer that dies mid-way leaves an
    * invisible orphan). Single-writer appends, the streaming-sink
    * model; concurrent SAME-batch appenders commit one segment. */
  def append(spark: SparkSession, rootDir: String, docs: DataFrame,
             batchKey: String, nBuckets: Int = 8,
             analyzer: String = Analyzer.Whitespace.name,
             completionField: Option[(String, String)] = None,
             completionContext: Option[String] = None): Unit = {
    val root = new java.io.File(rootDir)
    root.mkdirs()
    // an EXISTING index's analyzer always wins — all segments of an
    // index are analyzed identically (the ES mapping contract); the
    // parameter only takes effect on first commit
    // resolve-then-use-the-chain's-own-name: custom specs commit in
    // canonical form, so header strings compare exactly in federation
    val an = Analyzer.byName(
      if (hasManifest(root)) analyzerNameOf(root) else analyzer)
    val anName = an.name
    // the completion MAPPING follows the same contract: an existing
    // index's mapping wins (every segment carries the same artifact —
    // ES's mapping immutability), the parameter binds on first commit
    val cf: Option[(String, String, Option[String])] =
      if (hasManifest(root)) cfTripleOf(root)
      else completionField.map { p =>
        cfSpec(p, completionContext); (p._1, p._2, completionContext)
      }
    val (nb, segs, gen) =
      if (hasManifest(root)) readManifest(root)
      else (nBuckets, Seq.empty[Seg], 0L)
    val fp = graft.engine.Bucketing.fingerprint8("sx4|" + batchKey)
    val name = s"seg=$fp"
    if (segs.exists(_.name == name)) return
    val d = docs.persist()
    // materialize the cache via the stats pass FIRST, so the parallel
    // writers below all read the cached batch instead of racing to
    // recompute it
    val stats = d.agg(count(lit(1)).as("n"),
      sum(Analyzer.dl(an, "text")).as("tl"))
      .collect().head
    graft.engine.Bucketing.atomicStage(new java.io.File(root, name)) {
      tmp =>
        // the postings write goes FIRST and ALONE: overwrite mode
        // truncates the whole destination dir at job start, so nothing
        // else may be writing under tmp yet. The three artifact chains
        // after it are independent — run them as CONCURRENT Spark jobs
        // (guide §2.6): on local[N] this overlaps each job's
        // driver-side planning gap with another's tasks; on a cluster
        // it back-fills executors freed by a finishing job's
        // straggler tail.
        segPostings(d, nb, an).write.mode("overwrite")
          .partitionBy("tb").parquet(tmp.getPath)
        graft.engine.Parallel.all(
          () => writeDict(d.sparkSession, tmp, nb),
          () => writeStored(d, tmp, nb),
          () => cf.foreach(t =>
            writeCField(d, tmp, nb, an, (t._1, t._2), t._3)))
    }
    d.unpersist()
    commitBatch(root, name, nb,
      segs :+ Seg("seg", name, stats.getLong(0), stats.getLong(1)), gen,
      Some(anName), cf.map(t => cfSpec((t._1, t._2), t._3)))
  }

  /** Per-segment TERM DICTIONARY — Lucene's terms index: (term,
    * doc_freq) under `_dict/`, derived by reading the segment's
    * just-written postings back (one tokenize per batch, ever). The
    * dictionary is VOCABULARY-sized, so [[fuzzySearch]]'s pass-1 walk
    * reads it instead of distinct-ing the corpus-sized postings —
    * at 100 TB that is the difference between scanning the corpus
    * and scanning the vocabulary. Summed per-segment doc_freq equals
    * the stats-phase df (tombstoned docs included), same as the
    * postings aggregation the scorers use. */
  /** Doc-id range covered by one impact block — Lucene's postings
    * block granularity (its BlockTreeTermsWriter packs 128 docs per
    * block and stores a max impact per block). */
  private[operators] val ImpactBlockSize: Long = 128L

  /** Fixed artifact schemas (r18 optimization): every one of these
    * files is written by THIS object with exactly these columns, so
    * reads state them explicitly and skip parquet footer inference —
    * a 1-task Spark job plus ~50–150 ms of driver latency PER READ
    * that the serving paths were paying once per segment per query
    * (guide §1/§6; measured via `graft.Run probe`). Same rule
    * [[PostingsSchema]] already followed for the postings. `_stored`
    * stays inference-read (its columns are caller data), but through
    * [[graft.engine.Pq]]'s mtime-keyed schema memo. */
  private val DictSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_freq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_tf",
      org.apache.spark.sql.types.LongType)))

  private val ImpactsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("blk",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_tf",
      org.apache.spark.sql.types.LongType)))

  /** `_complete/` on-disk schema incl. the `pb` partition column. */
  private val CompleteSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("weight",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pb",
      org.apache.spark.sql.types.StringType)))

  /** Tombstone (`del=`) segment schema — both writers cast to long. */
  private val TombstoneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType)))

  private def writeDict(spark: SparkSession, segTmp: java.io.File,
                        nTasks: Int): Unit = {
    // the just-written postings read back: PostingsSchema minus the
    // manifest-level `seg` partition column (tb IS on disk here)
    val posts = spark.read.schema(org.apache.spark.sql.types.StructType(
      PostingsSchema.fields.filterNot(_.name == "seg")))
      .parquet(segTmp.getPath)
    // PER-BLOCK max impacts — Lucene's block-max metadata, the finer
    // tier under the dictionary's per-term ceiling: (term, blk,
    // max_tf) for blk = doc_id / ImpactBlockSize. Sized as postings /
    // ImpactBlockSize, far under the postings themselves;
    // [[maxScoreSearchWithPlan]] uses it to drop candidate docs whose
    // BLOCK ceilings cannot reach θ even when their terms' global
    // ceilings can.
    // Written FIRST and with a per-block doc count (r18): the term
    // dictionary folds exactly from these rows (a doc lands in ONE
    // block per term, so Σ n_docs = doc_freq and max over blocks =
    // max_tf), so deriving `_dict` from the just-written `_impacts`
    // replaces the second corpus-postings aggregation every segment
    // write used to pay with an impacts-sized one (guide §2.3:
    // aggregate once, fold the partial). Readers state (term, blk,
    // max_tf) explicitly and never see the extra column.
    posts
      .groupBy(col("term"),
        floor(col("doc_id") / lit(ImpactBlockSize)).cast("long")
          .as("blk"))
      .agg(max(col("tf")).as("max_tf"), count(lit(1)).as("n_docs"))
      .repartitionByRange(nTasks, col("term"))
      .sortWithinPartitions("term", "blk")
      .write.mode("overwrite")
      .parquet(new java.io.File(segTmp, "_impacts").getPath)
    // max_tf is the per-term IMPACT BOUND Lucene stores beside its
    // postings (block max impacts): [[maxScoreSearch]]'s pruning
    // derives each term's score ceiling from it without reading a
    // single posting.
    // ranged + sorted: bulk initial builds parallelize across
    // nTasks writers instead of one task, and the term-ordered
    // row groups give the dictionary walk tight footer stats
    graft.engine.Pq.readHidden(spark,
        Seq(new java.io.File(segTmp, "_impacts").getPath),
        Some(org.apache.spark.sql.types.StructType(
          ImpactsSchema.fields :+ org.apache.spark.sql.types.StructField(
            "n_docs", org.apache.spark.sql.types.LongType))))
      .groupBy("term").agg(sum(col("n_docs")).as("doc_freq"),
        max(col("max_tf")).as("max_tf"))
      .repartitionByRange(nTasks, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(new java.io.File(segTmp, "_dict").getPath)
    // COMPLETION dictionary — the segment-resident structure under
    // ES's completion suggester (Lucene's FST-backed suggest field):
    // (term, weight) under `_complete/`, PARTITIONED BY THE FIRST
    // CHARACTER (`pb=`) so a prefix walk prunes to ONE directory at
    // PLANNING time — across thousands of segments the file listing
    // itself shrinks by the alphabet, the step beyond `_dict`'s
    // footer-stat pruning (an FST walks only the prefix's arc; this
    // walks only the prefix's directory). Derived from the
    // JUST-WRITTEN `_dict` — a vocabulary-sized read, NOT another
    // postings aggregation (the ingest cost of the third artifact is
    // one tiny repartition job); hashing pb across nTasks writers
    // keeps it to one file per occupied letter. Weight is the term's
    // segment df — [[completionSuggest]] documents the convention.
    // pb is "x" + the HEX of the first character's UTF-8 bytes, not
    // the raw character: a string partition VALUE becomes a
    // DIRECTORY NAME, and a non-ASCII byte there fails the
    // local-filesystem write outright (sun.jnu.encoding) — any
    // unicode vocabulary would poison ingest. Hex keeps the 1:1
    // first-char → directory mapping (same pruning) in plain ASCII;
    // the "x" prefix keeps partition-value TYPE INFERENCE away (a
    // digit-only hex like `73` would infer as an int in one segment
    // and clash with `6B`'s string in another).
    graft.engine.Pq.readHidden(spark,
        Seq(new java.io.File(segTmp, "_dict").getPath), Some(DictSchema))
      .select(col("term"), col("doc_freq").as("weight"))
      .withColumn("pb", concat(lit("x"),
        hex(encode(substring(col("term"), 1, 1), "UTF-8"))))
      .repartition(nTasks, col("pb"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("pb")
      .parquet(new java.io.File(segTmp, "_complete").getPath)
  }

  /** The live segments' PER-BLOCK max impacts unioned (term, blk,
    * max_tf), folded to the cross-segment max per (term, blk). None
    * when any live segment predates the impacts tier (written by an
    * older layout) — the caller skips block refinement, a pure
    * optimization, and exactness is untouched. */
  private def impactsFrame(spark: SparkSession, root: java.io.File,
                           segs: Seq[Seg]): Option[DataFrame] = {
    val live = segs.filter(_.kind == "seg")
    if (live.isEmpty) return None
    val dirs = live.map(sg =>
      new java.io.File(new java.io.File(root, sg.name), "_impacts"))
    if (!dirs.forall(_.isDirectory)) return None
    // one multi-path scan, not an O(segments) union: the fold needs
    // no segment identity, and a single relation keeps planning cost
    // flat in segment count (r18)
    Some(graft.engine.Pq.readHidden(spark, dirs.map(_.getPath),
        Some(ImpactsSchema))
      .groupBy("term", "blk").agg(max("max_tf").as("max_tf")))
  }

  /** The live segments' dictionaries unioned (term, doc_freq, seg).
    * Vocabulary-sized per segment. */
  private[operators] def dictFrame(spark: SparkSession, root: java.io.File,
                        segs: Seq[Seg]): DataFrame = {
    val live = segs.filter(_.kind == "seg")
    if (live.isEmpty) {
      // empty index (fresh rollover target): vocabulary is empty
      import spark.implicits._
      return Seq.empty[(String, Long, Long)]
        .toDF("term", "doc_freq", "max_tf")
    }
    // one multi-path scan (not an O(segments) union) — cross-segment
    // doc_freq is summed by the callers, which never need to know
    // which segment a dictionary row came from (r18)
    graft.engine.Pq.readHidden(spark, live.map(sg =>
      new java.io.File(new java.io.File(root, sg.name), "_dict").getPath),
      Some(DictSchema))
  }

  /** Stored fields — ES's `_source` / Lucene's stored fields: the
    * original document rows — ALL their columns — ride INSIDE the
    * segment under `_stored/` (the underscore prefix hides the
    * subtree from the postings scans' file listing, so term queries
    * never touch it), committed by the same manifest rename as the
    * postings. [[fetch]]/[[highlight]] read (doc_id, text);
    * [[facet]] reads (doc_id, one metadata column) — and because the
    * store is PARQUET, that single-column read IS the doc-values
    * behavior ES builds a separate columnar store for: the text and
    * every other field never leave disk. Schema must stay consistent
    * across a segment family (the per-index ES mapping contract). */
  private def writeStored(d: DataFrame, segTmp: java.io.File,
                          nTasks: Int): Unit =
    d.withColumn("doc_id", col("doc_id").cast("long"))
      // ranged + doc_id-sorted (replacing a coalesce(1)): a BULK
      // initial build writes through nTasks parallel tasks instead
      // of serializing every stored field through one, and the
      // sorted row groups give [[fetch]]'s `doc_id IN` pushdown
      // footer-stat pruning — for micro-batch streaming segments the
      // few small files per segment are still Lucene's own shape
      .repartitionByRange(nTasks, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .parquet(new java.io.File(segTmp, "_stored").getPath)

  /** `_cfield/` row schema (pre-partitioning); [[CFieldSchema]] adds
    * the `pb` partition column for reads. Weight is LONG by contract —
    * ES's completion weights are integers (its mapping rejects
    * non-integral weights), and pinning the type here keeps a
    * multi-segment union consistent however each batch typed the
    * source column. */
  private val CFieldRowSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("input",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("weight",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    // the CONTEXT value (ES's completion category contexts); null on
    // context-less mappings — pre-context artifacts lack the column
    // entirely and the read-side explicit schema fills null
    org.apache.spark.sql.types.StructField("ctx",
      org.apache.spark.sql.types.StringType)))

  private val CFieldSchema = org.apache.spark.sql.types.StructType(
    CFieldRowSchema.fields :+ org.apache.spark.sql.types.StructField(
      "pb", org.apache.spark.sql.types.StringType))

  /** Per-segment COMPLETION-FIELD artifact — the segment-resident
    * structure under ES's completion MAPPING (Lucene builds the
    * suggest FST at index time precisely because scanning stored
    * fields per keystroke is untenable): (input, weight, doc_id) rows
    * for the mapped fields under `_cfield/`, inputs normalized by the
    * chain's multi-term rule (lowercase iff the chain lowercases),
    * PARTITIONED BY THE FIRST CODE POINT (`pb=`, the same
    * ASCII-hex-of-UTF-8 key as `_complete/`) so a prefix suggest
    * prunes to ONE directory per segment at planning time, and
    * input-SORTED within files so the prefix predicate also prunes
    * row groups by footer stats.
    *
    * doc_id rides IN the artifact — that is the deliberate divergence
    * from ES's FST: Lucene's suggester serves deleted docs' inputs
    * until merge (a documented caveat) because the FST folds weights
    * at build time; keeping per-doc rows costs one column and buys
    * EXACT live-doc semantics ([[completionFieldSuggest]] anti-joins
    * the pruned candidate slice — candidate-sized, never corpus-sized
    * — against the tombstones and folds max-weight at serve time).
    * Merge regenerates the artifact from the surviving stored fields.
    *
    * A batch that does not carry the mapped columns (sparse documents
    * — the ES mapping contract) writes an EMPTY artifact, keeping the
    * layout uniform; reads give the schema explicitly so an empty
    * directory never trips parquet schema inference. */
  private def writeCField(d: DataFrame, segTmp: java.io.File,
                          nTasks: Int, an: Analyzer.Chain,
                          cf: (String, String),
                          ctxF: Option[String] = None): Unit = {
    val (inF, wF) = cf
    val ctxCol = ctxF match {
      case Some(c) if d.columns.contains(c) => col(c).cast("string")
      case _ => lit(null).cast("string")
    }
    val rows =
      if (!d.columns.contains(inF) || !d.columns.contains(wF))
        d.sparkSession.createDataFrame(
          d.sparkSession.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], CFieldRowSchema)
      else d.select(
        (if (an.lowercase) lower(col(inF)) else col(inF)).as("input"),
        col(wF).cast("long").as("weight"),
        col("doc_id").cast("long").as("doc_id"),
        ctxCol.as("ctx"))
        .filter(col("input").isNotNull && col("weight").isNotNull &&
          length(col("input")) > 0)
    rows
      .withColumn("pb", concat(lit("x"),
        hex(encode(substring(col("input"), 1, 1), "UTF-8"))))
      .repartition(nTasks, col("pb"))
      .sortWithinPartitions("input")
      .write.mode("overwrite").partitionBy("pb")
      .parquet(new java.io.File(segTmp, "_cfield").getPath)
  }

  /** The `pb=` partition VALUE for a normalized prefix — the serving
    * mirror of the write side's key: "x" + the UTF-8 hex of the first
    * CODE POINT (code-point-aware — a UTF-16-unit take(1) would hand
    * a lone surrogate for a supplementary-char prefix and match no
    * partition). */
  private def pbKeyOf(px: String): String =
    "x" + px.substring(0, px.offsetByCodePoints(0, 1))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString

  /** The live segments' stored fields tagged with their segment fp —
    * one explicit read per segment (the `_stored` subtree is hidden
    * from partition discovery by design, so each is addressed
    * directly). O(segments) plan nodes, bounded by merge cadence. */
  private[operators] def storedFrame(spark: SparkSession, root: java.io.File,
                          segs: Seq[Seg]): DataFrame =
    segs.filter(_.kind == "seg").map { sg =>
      storedRead(spark, root, sg)
        .withColumn("seg", lit(sg.name.stripPrefix("seg=")))
      // allowMissingColumns: documents are SPARSE (ES's mapping
      // contract — a document need not contain every mapped field),
      // so a batch that carried fewer columns reads back with nulls
      // in the others instead of failing the union
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** One segment's `_stored` rows, schema inferred once per segment
    * (its columns are caller data). */
  private def storedRead(spark: SparkSession, root: java.io.File,
                         sg: Seg): DataFrame =
    graft.engine.Pq.readHidden(spark, Seq(new java.io.File(
      new java.io.File(root, sg.name), "_stored").getPath))

  /** GET by id — ES's document fetch, from the index's stored fields:
    * live (tombstone-filtered) rows for the requested ids, the id
    * filter pushed into every segment's stored read. Output:
    * (doc_id, text), id-ordered. */
  def fetch(spark: SparkSession, rootDir: String,
            ids: Seq[Long]): DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val stored = storedFrame(spark, root, segs)
      .filter(col("doc_id").isin(ids: _*))
    val live = liveDocs(spark, root, segs)(stored)
    live.select("doc_id", "text").orderBy("doc_id")
  }

  /** `_mget` with `_source` filtering — ES's multi-get where the
    * caller names the fields to return (`_source: ["lang", …]`):
    * [[fetch]]'s id-pushed live stored read, projected to the
    * REQUESTED columns only — and because the store is parquet, the
    * projection IS the I/O saving (the unrequested text column never
    * leaves disk; ES parses the whole `_source` JSON and filters
    * after the fact). Fields absent from a sparse segment's schema
    * read as null (the storedFrame union rule). Output: (doc_id,
    * fields…), id-ordered. */
  def fetchFields(spark: SparkSession, rootDir: String,
                  ids: Seq[Long], fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "fetchFields needs fields")
    require(!fields.contains("doc_id"),
      "doc_id is always returned — do not request it")
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val stored = storedFrame(spark, root, segs)
      .filter(col("doc_id").isin(ids: _*))
    val live = liveDocs(spark, root, segs)(stored)
    live.select((col("doc_id") +: fields.map(col)): _*)
      .orderBy("doc_id")
  }

  /** Sliced scroll — ES's parallel export API (`slice: { id, max }`
    * on a scroll/PIT), the read that feeds every reindex-scale
    * consumer: slice `sliceId` of `maxSlices` returns a deterministic
    * partition of the live corpus, pages ordered by doc_id with
    * `searchAfter` cursoring (ES 8's `search_after` + PIT replaced
    * scroll contexts with exactly this shape).
    *
    * Slicing is BY SEGMENT (manifest ordinal modulo `maxSlices`) —
    * ES slices on `_shard_doc` for the same reason: a hash-on-id
    * slice predicate reads every file to keep 1/max of it, while a
    * segment slice reads ONLY its own segments' stored files
    * (planning-time pruning; slices touch disjoint bytes). Slices
    * are disjoint and complete: every live doc appears in exactly
    * one slice — a doc upserted into a newer segment counts under
    * the segment that holds its LIVE version, because tombstones
    * apply by (doc_id, seg). A slice id beyond the segment count
    * returns empty pages (ES's documented behavior for
    * over-provisioned slices).
    *
    * `gen` pins ALL pages of ALL slices to ONE manifest generation
    * (the [[searchAt]] PIT contract — ES ties sliced scroll to a PIT
    * for exactly this reason): an append or merge committed between
    * pages renumbers segment ordinals, so slice membership computed
    * against the CURRENT manifest would shift under a paging
    * consumer — docs skipped or duplicated across the export.
    * Callers open the export with [[generations]]' newest value and
    * pass it to every page; `None` reads the current manifest (a
    * single-page or known-quiescent read). Output: (doc_id, lang,
    * source), id-ascending, `pageSize` rows from `after` exclusive. */
  def slicedScroll(spark: SparkSession, rootDir: String,
                   sliceId: Int, maxSlices: Int, pageSize: Int,
                   after: Option[Long] = None,
                   gen: Option[Long] = None): DataFrame = {
    require(maxSlices >= 1 && sliceId >= 0 && sliceId < maxSlices,
      s"bad slice: $sliceId of $maxSlices")
    val root = new java.io.File(rootDir)
    val segs = gen match {
      case Some(g) => readManifestAt(root, g)._2
      case None    => readManifest(root)._2
    }
    val mine = segs.filter(_.kind == "seg").zipWithIndex
      .collect { case (sg, i) if i % maxSlices == sliceId => sg }
    import spark.implicits._
    if (mine.isEmpty)
      return Seq.empty[(Long, String, String)]
        .toDF("doc_id", "lang", "source")
    val stored = storedFrame(spark, root, mine)
    val live = liveDocs(spark, root, segs)(stored)
    after.fold(live)(a => live.filter(col("doc_id") > lit(a)))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id").limit(pageSize)
  }

  /** Term vectors — ES's `_termvectors`: one LIVE document's terms
    * with their frequencies and positions, read from the index (the
    * positional postings double as Lucene's term vectors in this
    * layout — no separate per-doc file). Cost stated honestly: the
    * postings are TERM-bucketed, so a by-doc read cannot partition-
    * prune; the doc_id predicate pushes into the parquet scans
    * (footer/row-group stats — the doc-id-sorted write gives them
    * teeth) but worst case it is O(index postings footprint), which
    * is exactly why Lucene offers a dedicated stored term-vector
    * format when this API is hot. A tombstoned or absent doc returns
    * 0 rows. Output: (term, tf, positions), term-ascending. */
  def termVectors(spark: SparkSession, rootDir: String,
                  docId: Long): DataFrame =
    multiTermVectors(spark, rootDir, Seq(docId))
      .select("term", "tf", "positions")

  /** Batched term vectors — ES's `_mtermvectors`: the term vectors of
    * SEVERAL documents from one postings read (the id set pushes into
    * the scan as one IN filter) instead of one request per id —
    * [[multiQuerySearch]]'s amortization argument on the fetch side.
    * Single-id [[termVectors]] is the 1-element case of this body.
    * Live rows only; same honest cost note as [[termVectors]]: the
    * read is row-pruned by the pushed id filter, worst-case
    * O(postings footprint) — ES's own caveat for this API. Output:
    * (doc_id, term, tf, positions), (doc_id, term)-ascending. */
  def multiTermVectors(spark: SparkSession, rootDir: String,
                       docIds: Seq[Long]): DataFrame = {
    require(docIds.nonEmpty, "multiTermVectors needs ids")
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val p = segmentsRead(spark, root, segs)
      .filter(col("doc_id").isin(docIds: _*))
    val live = liveDocs(spark, root, segs)(p)
    live.select("doc_id", "term", "tf", "positions")
      .orderBy("doc_id", "term")
  }

  /** Index statistics — ES's `GET /idx/_stats` (docs + segments
    * panels): segment/tombstone-batch counts and the stats-phase doc
    * and token totals come straight from the MANIFEST (zero data
    * read — the O(1) header arithmetic every lifecycle decision
    * already uses); the deleted-doc count reads only the tombstone
    * sidecars (victim-set-sized — ES's `docs.deleted`), and
    * `n_live = n_docs − n_deleted` (each live doc is tombstoned at
    * most once per its single home segment — upsert's invariant).
    * Honest caveat: `n_deleted` counts distinct tombstoned IDS — a
    * delete aimed at a never-indexed id inflates it (ES counts actual
    * deleted docs; resolving the difference would cost a postings
    * join this zero-data-read API exists to avoid). Output:
    * (n_segments, n_del_batches, n_docs, n_deleted, n_live,
    * total_len), 1 row. */
  def indexStats(spark: SparkSession, rootDir: String): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val nSegs = segs.count(_.kind == "seg")
    val nDels = segs.count(_.kind == "del")
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val totalLen = segs.filter(_.kind == "seg").map(_.totalLen).sum
    val nDeleted = tombstones(spark, root, segs) match {
      case Some(dead) =>
        dead.select("doc_id").distinct().count()
      case None => 0L
    }
    // n_live clamps at 0: deletes aimed at never-indexed ids inflate
    // n_deleted (the documented caveat above), and on a small index
    // that inflation could otherwise push the difference negative —
    // a nonsense panel value no ES response would ever show
    Seq((nSegs.toLong, nDels.toLong, nDocs, nDeleted,
      math.max(0L, nDocs - nDeleted), totalLen))
      .toDF("n_segments", "n_del_batches", "n_docs", "n_deleted",
        "n_live", "total_len")
  }

  /** `_analyze` — ES's `POST /idx/_analyze` (the analyzer debugging
    * endpoint every mapping session leans on): the INDEX's OWN chain
    * applied to caller text, token by token — lowercasing, stopword
    * position GAPS (a dropped stopword still consumes its position,
    * the offsets phrase matches respect), stemming, and index-time
    * synonym STACKING ([[Analyzer.analyzeIngest]] — what the index
    * actually stores). One driver-side string analysis (ES's
    * coordinator does the same — no data touched). Output:
    * (position, token), position-ascending (stacked synonyms share
    * their base's position). */
  def analyzeApi(spark: SparkSession, rootDir: String,
                 text: String): DataFrame = {
    import spark.implicits._
    val chain = Analyzer.byName(analyzerOf(rootDir))
    Analyzer.analyzeIngest(chain, text)
      .toDF("position", "token")
      .orderBy("position", "token")
  }

  /** `_cat/indices` — ES's cluster index panel (one row per index:
    * doc counts, deletes, store size), the operational read every
    * cluster dashboard opens with: [[indexStats]] per family member,
    * unioned under the index name. Manifest + tombstone-sidecar
    * reads only — zero postings/stored data touched, per-member cost
    * O(segments) regardless of corpus size. Output: (idx,
    * n_segments, n_del_batches, n_docs, n_deleted, n_live,
    * total_len), index-name-ascending. (`idx`, not ES's `index` —
    * the word is reserved in enough SQL dialects to poison the
    * oracle surface.) */
  def catIndices(spark: SparkSession,
                 indices: Seq[(String, String)]): DataFrame = {
    require(indices.nonEmpty, "catIndices needs at least one index")
    require(indices.map(_._1).distinct.size == indices.size,
      "duplicate index names")
    indices.map { case (name, dir) =>
      indexStats(spark, dir).withColumn("idx", lit(name))
    }.reduce(_ unionByName _)
      .select("idx", "n_segments", "n_del_batches", "n_docs",
        "n_deleted", "n_live", "total_len")
      .orderBy("idx")
  }

  /** Hit count — ES's `GET /idx/_count`: how many LIVE documents
    * match any of the analyzed query terms, with no scoring, no
    * fetch, no top-k — the cheapest read the serving API offers (one
    * bucket-pruned postings scan, a distinct-count, one row out).
    * The usual phases still apply to the hit set (tombstoned docs
    * never count — `_count` is a hits-side read). Output: (n_hits),
    * 1 row. */
  def countQuery(spark: SparkSession, rootDir: String,
                 terms: Seq[String]): DataFrame = {
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, terms)
    import spark.implicits._
    if (qs.isEmpty) return Seq(0L).toDF("n_hits")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, qs, nb)
      .filter(col("term").isin(qs: _*))
    val live = liveDocs(spark, root, segs)(p)
    live.agg(countDistinct(col("doc_id")).as("n_hits"))
  }

  /** Highlighting from the index — ES's actual flow: the QUERY phase
    * ranks top-k doc ids from the postings ([[search]]), the FETCH
    * phase pulls only those k documents' stored fields, and the
    * snippet builder ([[Search.highlight]]'s codegen'd per-row array
    * exprs) runs over the k fetched rows. The corpus is never read;
    * the stored-field read is k-bounded. Output:
    * (doc_id, pos, n_hits, snippet), id-ordered. */
  def highlight(spark: SparkSession, rootDir: String,
                terms: Seq[String], k: Int,
                window: Int = 3): DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val top = search(spark, rootDir, terms, k).select("doc_id")
    // the snippet marker compares RAW text tokens against the
    // analyzed query terms: exact under the whitespace chain; under a
    // stemming chain it marks tokens equal to the stem (ES's
    // plain highlighter re-analyzes instead — a documented
    // simplification)
    val hlTerms = qTerms(root, terms)
    val live = liveStored(spark, root, segs)
    Search.highlight(
      live.join(broadcast(top), Seq("doc_id"), "left_semi")
        .select("doc_id", "text"),
      hlTerms, window)
  }

  /** ANALYZED highlighting — ES's unified highlighter behavior on an
    * analyzed index: a display token is marked when its ANALYZED form
    * equals an analyzed query term, so the query `run` marks the
    * original-case token `Running` exactly as ES does (the raw-token
    * marker of [[highlight]] would miss it). The display tokens come
    * from the CASE-PRESERVING split ([[Analyzer.rawSplitRx]] —
    * position-aligned with the chain's own split by construction),
    * and the per-token analysis is the same codegen'd SQL the ingest
    * runs, applied to the k fetched rows only. On a whitespace index
    * this is bit-identical to [[highlight]] (the spec pins it).
    * Output: (doc_id, pos, n_hits, snippet) — [[Search.highlight]]'s
    * schema and window semantics (pos 1-based first hit, snippet the
    * ±window tokens with hits bracketed, n_hits doc-wide). */
  def highlightPositional(spark: SparkSession, rootDir: String,
                          terms: Seq[String], k: Int,
                          window: Int = 3): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val an = readAnalyzer(root)
    val qs = qTerms(root, terms)
    if (qs.isEmpty)
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "pos", "n_hits", "snippet")
    val (_, segs, _) = readManifest(root)
    val top = search(spark, rootDir, terms, k).select("doc_id")
    val live = liveStored(spark, root, segs)
    // terms embed quote-escaped ([[Search.sqlLit]]) — under the
    // whitespace chain they pass through analysis unfiltered, so a
    // quote-bearing term must not break (or inject into) the expr.
    // Under an index-time-synonym chain a display token whose
    // analyzed form is a synonym KEY matches a query for the VALUE
    // (the index stacked the value at its position — ES highlights
    // the original token), so the marker set widens by the reverse
    // map, driver-side.
    val qSet = qs.toSet
    val hlSet = qs ++ an.synonymMap.collect {
      case (k, vs) if vs.exists(qSet) => k }
    val arr = hlSet.map(Search.sqlLit).mkString(", ")
    val w = 2 * window + 1
    live.join(broadcast(top), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
      .withColumn("toks",
        expr(s"split(text, '${Analyzer.rawSplitRx(an)}')"))
      .withColumn("marks", expr(
        s"transform(toks, t -> array_contains(array($arr), " +
          s"${Analyzer.termSql(an, "t")}))"))
      .withColumn("pos", expr("bigint(array_position(marks, true))"))
      .filter(col("pos") > 0)
      .withColumn("lo", greatest(lit(1L), col("pos") - window))
      .withColumn("snippet", expr(
        s"concat_ws(' ', zip_with(slice(toks, int(lo), $w), " +
          s"slice(marks, int(lo), $w), " +
          "(t, m) -> if(m, concat('[', t, ']'), t)))"))
      .withColumn("n_hits",
        expr("bigint(size(filter(marks, m -> m)))"))
      .select("doc_id", "pos", "n_hits", "snippet")
      .orderBy("doc_id")
  }

  /** Terms AGGREGATION over a query's full hit set — ES's
    * `aggs: { terms: { field } }`, the other half of every search
    * request: documents matching ANY query term (live — tombstoned
    * docs excluded immediately, like hit lists) are bucketed by a
    * stored metadata column and counted, top-`kBuckets` by
    * (doc_count desc, value asc). The aggregation runs over the FULL
    * hit set, not the top-k page — exactly ES's semantics.
    *
    * The field values read COLUMN-PRUNED from the `_stored/` parquet
    * (doc_id + the one field — parquet's columnar layout IS the
    * doc-values store ES builds separately; text never leaves disk),
    * and the hit set comes from the bucket-pruned postings, so the
    * cost is the queried posting lists + one column of the matched
    * documents. `count_distinct` on doc_id keeps a doc counted once
    * even if (contrary to the upsert contract) two live versions
    * exist. Output: (value, doc_count). */
  def facet(spark: SparkSession, rootDir: String, terms: Seq[String],
            field: String, kBuckets: Int): DataFrame =
    multiFacet(spark, Seq("" -> rootDir), terms, field, kBuckets)

  /** Terms-agg `include`/`exclude` REGEX — ES's bucket-key filter
    * (`include: "sw.*"`, `exclude: ".*3"`): buckets whose KEY fails
    * the include pattern or matches the exclude pattern leave the
    * aggregation BEFORE the top-k (ES applies them during bucket
    * collection). Patterns are whole-key anchored in a non-capturing
    * group (`^(?:pat)$` — the [[regexpSearch]] convention, so a
    * top-level alternation stays whole-key) and stick to the
    * portable regexp core, the same cross-engine stance. Output:
    * [[facet]]'s (value, doc_count). */
  def facetInclude(spark: SparkSession, rootDir: String,
                   terms: Seq[String], field: String,
                   include: Option[String], exclude: Option[String],
                   kBuckets: Int): DataFrame = {
    require(include.nonEmpty || exclude.nonEmpty,
      "facetInclude needs an include or exclude pattern")
    val vals = hitFieldValues(spark, rootDir, terms, field)
    val inc = include.fold(vals)(p =>
      vals.filter(col("value").cast("string")
        .rlike("^(?:" + p + ")$")))
    val exc = exclude.fold(inc)(p =>
      inc.filter(!col("value").cast("string")
        .rlike("^(?:" + p + ")$")))
    exc.groupBy("value")
      .agg(countDistinct(col("doc_id")).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** Terms-agg PARTITION paging — ES's
    * `include: { partition, num_partitions }`, the knob for walking
    * a huge-cardinality terms agg in independent requests (each
    * request sees the buckets whose KEY hashes into its partition;
    * the union over partitions is exact and disjoint — the
    * billion-key agg pages without a billion-bucket response). The
    * partition hash is PINNED cross-engine: the first FOUR hex chars
    * of md5(key) as a base-16 integer (65536 values), mod
    * `numPartitions` (md5 is the repo's one cross-engine string
    * digest — the dedup tier's convention), so the oracle replays it
    * and the paging is deterministic everywhere; numPartitions ≤
    * 4096 (`require`d — 1/16 of the hash range, so the worst
    * ceil/floor bucket-mass imbalance stays ≤ 1/16; ES itself caps
    * partitions far below key cardinality). The filter applies
    * BEFORE the top-k, inside the bucket aggregation. Output:
    * [[facet]]'s (value, doc_count). */
  def facetPartition(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String,
                     numPartitions: Int, partition: Int,
                     kBuckets: Int): DataFrame = {
    require(numPartitions >= 1 && numPartitions <= 4096,
      s"numPartitions must be in [1, 4096]: $numPartitions")
    require(partition >= 0 && partition < numPartitions,
      s"partition must be in [0, $numPartitions): $partition")
    val hashExpr = expr(
      "pmod(cast(conv(substring(md5(cast(value as string)), 1, 4), " +
        s"16, 10) as bigint), $numPartitions)")
    hitFieldValues(spark, rootDir, terms, field)
      .filter(hashExpr === lit(partition))
      .groupBy("value")
      .agg(countDistinct(col("doc_id")).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** Histogram aggregation over a query's full hit set — ES's
    * `aggs: { histogram: { field, interval } }` with its default
    * `min_doc_count: 0` semantics: matched live documents bucket by
    * `floor(value / interval) · interval`, and EVERY interval between
    * the lowest and highest occupied bucket appears in the output,
    * empty ones with doc_count 0 (the gap-filling that makes ES
    * histograms chartable directly). The bounds row and the bucket
    * sequence are single-row frames — the fill is O(range/interval),
    * never a driver loop; the field values read column-pruned from
    * the stored parquet like [[facet]]. Output: (bucket, doc_count),
    * bucket-ascending. */
  def histogramFacet(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String,
                     interval: Long): DataFrame =
    multiHistogramFacet(spark, Seq("" -> rootDir), terms, field,
      interval)

  /** [[histogramFacet]] across several indices — the multi-index agg
    * contract of [[multiFacet]] on the histogram shape: per-index
    * live hit docs bucket together, gap-fill spans the COMBINED
    * occupied range, docs count once per (_index, _id). */
  def multiHistogramFacet(spark: SparkSession,
                          indices: Seq[(String, String)],
                          terms: Seq[String], field: String,
                          interval: Long): DataFrame = {
    require(interval > 0, s"interval must be positive: $interval")
    val counts = unionHitFieldValues(spark, indices, terms, field)
      .withColumn("bucket",
        floor(col("value").cast("double") / interval).cast("long") *
          interval)
      .groupBy("bucket")
      .agg(countDistinct(col("idx"), col("doc_id")).as("doc_count"))
    val buckets = counts
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(
        sequence(col("lo"), col("hi"), lit(interval))).as("bucket"))
    buckets.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("doc_count"))
      .orderBy("bucket")
  }

  /** PIPELINE aggregations over a histogram — ES's parent pipeline
    * tier (`cumulative_sum`, `derivative`, `moving_fn` and the
    * `bucket_selector`/`bucket_sort` post-passes), the
    * second-derivative layer every monitoring dashboard asks of a
    * date/value histogram:
    *
    *  - `cum_count` — `cumulative_sum` of doc_count (running total,
    *    current bucket included);
    *  - `derivative` — doc_count minus the PREVIOUS bucket's (the
    *    first bucket reports null — ES omits the value there; the
    *    gap-filled zero buckets make the series well-defined, which
    *    is why ES requires min_doc_count=0 under a derivative);
    *  - `moving_avg` — the mean over the trailing `movingWindow`
    *    buckets ENDING AT AND INCLUDING the current one (ES's
    *    `moving_fn` slides the same window; its `shift` knob picks
    *    among offsets of it). The sum is over exact longs, so the
    *    one division is bit-stable cross-engine;
    *  - `minDocCount` — ES's `bucket_selector`: buckets failing the
    *    predicate leave the RESPONSE only, after every pipeline
    *    value is computed over the full series (ES's reduce order);
    *  - `topBuckets` — ES's `bucket_sort`: keep the top-N buckets by
    *    (doc_count desc, bucket), replacing the bucket-ascending
    *    order.
    *
    * Scale shape, stated honestly: the pipeline windows run
    * UNPARTITIONED over the bucket series — which is bucket-count-
    * sized by the histogram's own contract (range/interval), NOT
    * corpus-sized, and is exactly where ES computes pipeline
    * aggregations too (the coordinating node's reduce phase over the
    * already-reduced buckets). The heavy lifting stays in
    * [[histogramFacet]]'s distributed hit-set aggregation. Output:
    * (bucket, doc_count, cum_count, derivative, moving_avg). */
  def histogramPipelineFacet(spark: SparkSession, rootDir: String,
                             terms: Seq[String], field: String,
                             interval: Long, movingWindow: Int = 3,
                             minDocCount: Long = 0L,
                             topBuckets: Option[Int] = None)
      : DataFrame = {
    require(movingWindow >= 1,
      s"movingWindow must be >= 1: $movingWindow")
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(asc("bucket"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wMov = wOrd.rowsBetween(-(movingWindow - 1).toLong, 0)
    val piped = histogramFacet(spark, rootDir, terms, field, interval)
      .withColumn("cum_count", sum("doc_count").over(wCum))
      .withColumn("derivative",
        col("doc_count") - lag("doc_count", 1).over(wOrd))
      .withColumn("moving_avg",
        sum("doc_count").over(wMov).cast("double") /
          count(lit(1)).over(wMov).cast("double"))
      .filter(col("doc_count") >= lit(minDocCount))
    topBuckets.fold(piped.orderBy("bucket"))(n =>
      piped.orderBy(desc("doc_count"), asc("bucket")).limit(n))
  }

  /** SIBLING pipeline aggregation — ES's `stats_bucket` (with
    * `avg`/`min`/`max`/`sum_bucket` as its columns): one row of
    * statistics ACROSS the histogram's buckets (doc_count series),
    * the "what does the whole series look like" reduce every
    * dashboard footer shows. Zero-filled buckets count (ES's
    * gap_policy on a min_doc_count=0 histogram); avg is an exact
    * long sum over one division. Output: (n_buckets, bmin, bmax,
    * bsum, bavg), 1 row. */
  def statsBucket(spark: SparkSession, rootDir: String,
                  terms: Seq[String], field: String,
                  interval: Long): DataFrame =
    histogramFacet(spark, rootDir, terms, field, interval)
      .agg(count(lit(1)).as("n_buckets"),
        min("doc_count").as("bmin"), max("doc_count").as("bmax"),
        sum("doc_count").as("bsum"),
        (sum("doc_count").cast("double") /
          count(lit(1)).cast("double")).as("bavg"))

  /** `normalize` pipeline agg — ES's per-bucket rescaling of a
    * sibling metric series (here doc_count), the two EXACT-arithmetic
    * methods: `percent_of_sum` (value / Σ values — one division of
    * exactly-representable longs per bucket, bit-stable) and
    * `rescale_0_1` ((value − min) / (max − min); a CONSTANT series
    * rescales to 0.0, pinned — ES's division by zero there is NaN,
    * and this engine's hash-oracle surface does not carry NaNs).
    * The softmax / z-score methods are libm (exp/sqrt chains over
    * many terms) and deliberately out (stated — the q43 posture).
    * The series stats are ONE single-row aggregate broadcast back
    * (the [[linearFusion]] frame shape); everything else is a
    * projection over the bucket series. Output: (bucket, doc_count,
    * normalized), bucket-ascending. */
  def normalizeFacet(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String,
                     interval: Long, method: String): DataFrame = {
    require(Set("percent_of_sum", "rescale_0_1")(method),
      s"unsupported normalize method: $method (percent_of_sum | " +
        "rescale_0_1; softmax/z-score are libm and stated out)")
    val h = histogramFacet(spark, rootDir, terms, field, interval)
    val normalized = method match {
      case "percent_of_sum" =>
        col("doc_count").cast("double") / col("nsum").cast("double")
      case _ =>
        when(col("nmax") === col("nmin"), lit(0.0d))
          .otherwise((col("doc_count") - col("nmin")).cast("double") /
            (col("nmax") - col("nmin")).cast("double"))
    }
    // series stats ride one single-partition window over the
    // bucket-count-sized series (exact long sums/extrema, same
    // values) instead of a broadcast re-aggregation that computed
    // the whole hit + histogram subtree twice (r18 optimization)
    val win = org.apache.spark.sql.expressions.Window.partitionBy()
    h.withColumn("nsum", sum("doc_count").over(win))
      .withColumn("nmin", min("doc_count").over(win))
      .withColumn("nmax", max("doc_count").over(win))
      .withColumn("normalized", normalized)
      .select("bucket", "doc_count", "normalized")
      .orderBy("bucket")
  }

  /** `moving_percentiles` — ES's sliding-window percentile pipeline
    * agg, EXACT where ES folds TDigest sketches (the engine's
    * standing exact-where-ES-approximates stance): over the trailing
    * `window` buckets (current included — the [[
    * histogramPipelineFacet]] moving_avg window), the interpolated
    * percentile of the doc_count series at `percent`, computed by
    * the standard linear rule on the sorted window
    *
    *   rank = (percent/100)·(n−1);  v = a[⌊rank⌋] +
    *     (a[⌈rank⌉] − a[⌊rank⌋])·(rank − ⌊rank⌋)
    *
    * — the exact expression shape stated so the oracle mirrors it
    * op-for-op (subtraction on longs, one multiply, one add). The
    * window is bucket-series-sized (the pipeline-agg reduce-phase
    * contract — [[histogramPipelineFacet]]'s scale note). Output:
    * (bucket, doc_count, moving_pct), bucket-ascending. */
  def movingPercentilesFacet(spark: SparkSession, rootDir: String,
                             terms: Seq[String], field: String,
                             interval: Long, window: Int,
                             percent: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(percent > 0.0 && percent < 100.0,
      s"percent must be in (0, 100): $percent")
    val wMov = org.apache.spark.sql.expressions.Window
      .orderBy(asc("bucket"))
      .rowsBetween(-(window - 1).toLong, 0)
    val arr = sort_array(collect_list(col("doc_count")).over(wMov))
    histogramFacet(spark, rootDir, terms, field, interval)
      .withColumn("warr", arr)
      .withColumn("rank",
        lit(percent / 100.0) *
          (size(col("warr")) - lit(1)).cast("double"))
      .withColumn("lo", floor(col("rank")).cast("int"))
      .withColumn("hi", ceil(col("rank")).cast("int"))
      .withColumn("moving_pct",
        element_at(col("warr"), col("lo") + 1).cast("double") +
          (element_at(col("warr"), col("hi") + 1) -
            element_at(col("warr"), col("lo") + 1)).cast("double") *
          (col("rank") - col("lo").cast("double")))
      .select("bucket", "doc_count", "moving_pct")
      .orderBy("bucket")
  }

  /** `bucket_script` — ES's general-arithmetic pipeline agg: each
    * histogram bucket carries sibling METRICS (here per-bucket sums
    * of stored numeric fields, named by the caller — ES's
    * `buckets_path` map) and a SCRIPT combines them into one more
    * column per bucket (`params.a / params.b` painless; here a SQL
    * expression over the metric names — same expressive role,
    * compiled by Catalyst instead of interpreted per bucket).
    *
    * ONE aggregation pass produces buckets, doc_count and every
    * metric together (the multi-field doc-values read — no
    * per-metric rescan), and the script is a projection over the
    * aggregated frame: at any scale its cost is O(buckets), the
    * pipeline-agg contract. Docs missing the BUCKET field drop;
    * a doc missing only a metric field contributes null→0 to that
    * sum (ES's gap_policy-adjacent per-role rule, stated). Output:
    * (bucket, doc_count, <metrics...>, script_value),
    * bucket-ascending. */
  def bucketScriptFacet(spark: SparkSession, rootDir: String,
                        terms: Seq[String], field: String,
                        interval: Long,
                        metrics: Seq[(String, String)],
                        script: String): DataFrame = {
    require(interval > 0, s"interval must be positive: $interval")
    require(metrics.nonEmpty, "bucket_script needs metrics")
    require(metrics.map(_._1).distinct.size == metrics.size,
      "duplicate metric names")
    val rows = hitFields(spark, rootDir, terms,
      (field -> "bval") +: metrics.map { case (n, f) => f -> n },
      requireNonNull = Seq("bval"))
    val aggs = count(lit(1)).as("doc_count") +:
      metrics.map { case (n, _) =>
        coalesce(sum(col(n)), lit(0L)).as(n) }
    rows
      .withColumn("bucket",
        (floor(col("bval") / lit(interval)) * lit(interval))
          .cast("long"))
      .groupBy("bucket")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("script_value", expr(script))
      .orderBy("bucket")
  }

  /** Field-sorted search — ES's `sort: [{ field: order }]`, the
    * list-by-date request every search UI makes: the FULL live hit
    * set of the query terms orders by a stored doc-values column
    * instead of relevance, doc_id the tiebreaker (ES's `_id`). The
    * field values read column-pruned from `_stored/` ([[facet]]'s
    * doc-values path — text never leaves disk) and the sort is a
    * TakeOrderedAndProject top-k, never a full sort. Documents
    * missing the field sort LAST in either direction (ES's
    * `missing: _last` default). Output: (doc_id, sort_value). */
  def sortedSearch(spark: SparkSession, rootDir: String,
                   terms: Seq[String], field: String, k: Int,
                   ascending: Boolean = true): DataFrame = {
    val v = hitFieldValues(spark, rootDir, terms, field,
      keepMissing = true)
    val ord =
      if (ascending) col("value").asc_nulls_last
      else col("value").desc_nulls_last
    v.orderBy(ord, asc("doc_id")).limit(k)
      .withColumnRenamed("value", "sort_value")
  }

  /** Stats aggregation — ES's `aggs: { stats: { field } }`: count,
    * min, max, sum and avg of a stored numeric field over the query's
    * FULL live hit set, the field read column-pruned from `_stored/`
    * ([[facet]]'s doc-values path). One partial+final aggregation to
    * a single row; avg is sum/count in double, exactly the division
    * ES returns. Docs missing the field are ignored (ES's rule).
    * Output: (n_docs, vmin, vmax, vsum, vavg), 1 row. */
  def statsFacet(spark: SparkSession, rootDir: String,
                 terms: Seq[String], field: String): DataFrame =
    multiStatsFacet(spark, Seq("" -> rootDir), terms, field)

  /** [[statsFacet]] across several indices — one stats row over the
    * union of the per-index live hit sets (each doc counts once under
    * its (_index, _id) identity, so a corpus split across a rollover
    * family aggregates exactly like one combined index). */
  def multiStatsFacet(spark: SparkSession,
                      indices: Seq[(String, String)],
                      terms: Seq[String], field: String): DataFrame =
    unionHitFieldValues(spark, indices, terms, field)
      .agg(count(lit(1)).as("n_docs"),
        min("value").as("vmin"),
        max("value").as("vmax"),
        sum("value").as("vsum"))
      .withColumn("vavg",
        col("vsum").cast("double") / col("n_docs").cast("double"))

  /** Extended stats aggregation — ES's `extended_stats`: [[statsFacet]]
    * plus sum_of_squares, variance and standard deviation, the full
    * one-pass numeric panel. ES streams doubles (order-dependent);
    * here the moments accumulate EXACTLY — the field's long values
    * sum in DECIMAL(38,0) ([[graft.operators.StatsOps]]' scheme), and
    * variance derives from the exact central term n·Σx²−(Σx)² in one
    * fixed-order double pipeline (division, sqrt — IEEE-correctly-
    * rounded), so every output is bit-stable cross-engine. Both ES
    * variance flavors emit (population and sampling — ES 7.9+ returns
    * both); std_dev is the population one (ES's headline number).
    * Output: (n_docs, vmin, vmax, vsum, vavg, sum_of_squares,
    * variance_pop, variance_samp, std_dev), 1 row. */
  def extendedStatsFacet(spark: SparkSession, rootDir: String,
                         terms: Seq[String], field: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val v = hitFieldValues(spark, rootDir, terms, field)
      .withColumn("x", col("value").cast("long"))
    val row = v.agg(count(lit(1)).cast(dec).as("n"),
      min("x").as("vmin"), max("x").as("vmax"),
      sum(col("x").cast(dec)).as("s1"),
      sum((col("x") * col("x")).cast(dec)).as("s2"))
    val a2 = col("n") * col("s2") - col("s1") * col("s1")
    row.select(
      col("n").cast("long").as("n_docs"),
      col("vmin"), col("vmax"),
      col("s1").cast("long").as("vsum"),
      (col("s1").cast("double") / col("n").cast("double")).as("vavg"),
      col("s2").cast("long").as("sum_of_squares"),
      (a2.cast("double") / (col("n") * col("n")).cast("double"))
        .as("variance_pop"),
      (a2.cast("double") /
        (col("n") * (col("n") - lit(1))).cast("double"))
        .as("variance_samp"),
      sqrt(a2.cast("double") / (col("n") * col("n")).cast("double"))
        .as("std_dev"))
  }

  /** Weighted-average aggregation — ES's `weighted_avg` (value field
    * × weight field): Σ(v·w)/Σw over the live hit docs, both sums
    * EXACT in DECIMAL(38,0) over the fields' long lattices, ONE
    * double division at the end — bit-stable cross-engine. Docs
    * missing either field drop (ES's default for value; weight
    * missing means skip unless a `missing` default is configured).
    * Output: (n_docs, wsum, weighted_avg), 1 row. */
  def weightedAvgFacet(spark: SparkSession, rootDir: String,
                       terms: Seq[String], field: String,
                       weightField: String): DataFrame = {
    val dec = "decimal(38,0)"
    hitFields(spark, rootDir, terms,
        Seq(field -> "v", weightField -> "w"),
        requireNonNull = Seq("v", "w"))
      .select(col("v").cast("long").as("v"),
        col("w").cast("long").as("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast(dec)).as("wsumd"),
        sum((col("v") * col("w")).cast(dec)).as("vw"))
      .select(col("n_docs"),
        col("wsumd").cast("long").as("wsum"),
        (col("vw").cast("double") / col("wsumd").cast("double"))
          .as("weighted_avg"))
  }

  /** `_cat/segments` — ES's per-segment operational panel (the view
    * every capacity review opens with): one row per manifest entry in
    * COMMIT ORDER — data segments with their doc and token-length
    * totals, tombstone batches with their victim counts. Pure
    * manifest arithmetic: zero data files open, zero rows move —
    * [[indexStats]]' zero-data-read posture at per-segment grain.
    * Segment NAMES are content fingerprints (not stable across
    * fixtures), so the panel exposes the commit ORDINAL instead —
    * the stable identity a dashboard keys on. Output: (ord, kind,
    * n_docs, total_len), ord-ascending. */
  def catSegments(spark: SparkSession, rootDir: String): DataFrame = {
    import spark.implicits._
    val (_, segs, _) = readManifest(new java.io.File(rootDir))
    segs.zipWithIndex.map { case (sg, i) =>
      (i.toLong, sg.kind, sg.nDocs, sg.totalLen)
    }.toDF("ord", "kind", "n_docs", "total_len")
      .orderBy("ord")
  }

  /** serial_diff pipeline aggregation — ES's lag-N differencing over
    * a histogram's bucket series (seasonality removal: lag = the
    * period): doc_count minus the bucket `lag` steps earlier; the
    * first `lag` buckets report null (ES omits them). Runs over the
    * gap-filled [[histogramFacet]] series — bucket-count-sized, the
    * coordinating-node reduce tier like every parent pipeline here.
    * Output: (bucket, doc_count, serial_diff), bucket-ascending. */
  def serialDiffFacet(spark: SparkSession, rootDir: String,
                      terms: Seq[String], field: String,
                      interval: Long, lagN: Int): DataFrame = {
    require(lagN >= 1, s"lag must be >= 1: $lagN")
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("bucket"))
    histogramFacet(spark, rootDir, terms, field, interval)
      .withColumn("serial_diff",
        col("doc_count") - lag(col("doc_count"), lagN).over(w))
      .orderBy("bucket")
  }

  /** percentiles_bucket sibling pipeline — ES's percentiles OVER a
    * histogram's doc_count series. ES computes these exactly (the
    * series is already reduced in memory) with the nearest-rank rule
    * `ceil(p/100 · n)`; so does this — over the gap-filled,
    * bucket-count-sized series, never the corpus. Output:
    * (percent, value), percent-ascending. */
  def percentilesBucket(spark: SparkSession, rootDir: String,
                        terms: Seq[String], field: String,
                        interval: Long, percents: Seq[Double])
      : DataFrame = {
    require(percents.nonEmpty &&
      percents.forall(p => p > 0.0 && p <= 100.0),
      s"percents must be in (0, 100]: $percents")
    val spark2 = spark
    import spark2.implicits._
    val counts = histogramFacet(spark, rootDir, terms, field, interval)
      .select(col("doc_count"))
    // n rides the SAME single-partition window pass as the rank (the
    // series is bucket-count-sized by construction) instead of a
    // broadcast re-aggregation of the whole histogram subtree — the
    // old shape computed the hit + stored + histogram pass twice
    // (r18 optimization)
    val ranked = counts
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(asc("doc_count"))))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val req = percents.distinct.sorted.toDF("percent")
    broadcast(req).join(ranked,
        col("rk") === ceil(col("percent") / lit(100.0d) *
          col("n").cast("double")).cast("int"))
      .select(col("percent"), col("doc_count").as("value"))
      .orderBy("percent")
  }

  /** top_metrics under a terms bucketing — ES's `top_metrics` agg
    * ("per category, the metric of the top-sorted doc"): for each
    * bucket of `bucketField` over the query's live hit set, the
    * `metricField` value of the document ranking FIRST by
    * (`sortField` desc, doc_id asc — ES breaks sort ties by doc
    * identity). One stored scan for all three columns, a rank window
    * PARTITIONED BY BUCKET (partitions are bucket-sized — never a
    * global funnel). Docs missing any of the three fields drop.
    * Output: (value, top_sort, metric, doc_id), bucket-value-
    * ascending. */
  def topMetricsFacet(spark: SparkSession, rootDir: String,
                      terms: Seq[String], bucketField: String,
                      sortField: String, metricField: String)
      : DataFrame = {
    val rows = hitFields(spark, rootDir, terms,
      Seq(bucketField -> "value", sortField -> "top_sort",
        metricField -> "metric"),
      requireNonNull = Seq("value", "top_sort", "metric"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("value"))
      .orderBy(desc("top_sort"), asc("doc_id"))
    rows.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("value", "top_sort", "metric", "doc_id")
      .orderBy("value")
  }

  /** Missing aggregation — ES's `missing`: how many of the query's
    * live hit docs DON'T carry the field (the data-quality partner of
    * every terms agg — sparse mappings are legal, so "no value" is a
    * real bucket). One column-pruned stored read; a segment written
    * without the column reads null ([[storedFrame]]'s sparse-union
    * contract), which is exactly ES's "not indexed" case. Output:
    * (doc_count), 1 row. */
  def missingFacet(spark: SparkSession, rootDir: String,
                   terms: Seq[String], field: String): DataFrame =
    hitFieldValues(spark, rootDir, terms, field, keepMissing = true)
      .filter(col("value").isNull)
      .agg(countDistinct(col("doc_id")).as("doc_count"))

  /** Terms aggregation across SEVERAL indices — ES aggregations on a
    * multi-index request (`GET /idx1,idx2/_search` with `aggs`), the
    * read that makes [[rollover]] families usable for analytics: each
    * index contributes its live hit docs' field values (the usual
    * column-pruned doc-values read, per-index tombstones), documents
    * count once per (index, id) identity, and — because a document
    * lives in exactly one index of a family — a corpus split across
    * indices aggregates EXACTLY like one combined index (the oracle
    * pins this, the agg-side twin of [[multiSearch]]'s lossless-stats
    * contract). Output: (value, doc_count), top-k. */
  def multiFacet(spark: SparkSession, indices: Seq[(String, String)],
                 terms: Seq[String], field: String,
                 kBuckets: Int): DataFrame =
    unionHitFieldValues(spark, indices, terms, field)
      .groupBy("value")
      .agg(countDistinct(col("idx"), col("doc_id")).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)

  /** The per-index (idx, doc_id, value) aggregation feeds unioned —
    * the shared body of every multi-index/family aggregation. Each
    * index analyzes, prunes and tombstones with ITS OWN manifest. */
  private def unionHitFieldValues(spark: SparkSession,
      indices: Seq[(String, String)], terms: Seq[String],
      field: String): DataFrame = {
    require(indices.nonEmpty, "need at least one index")
    requireUniformAnalyzer(indices)
    indices.map { case (name, root) =>
      hitFieldValues(spark, root, terms, field)
        .withColumn("idx", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Significant-terms aggregation — ES's `significant_terms`, the
    * "what is unusual about these results" agg: terms OVERREPRESENTED
    * in the query's hit set (foreground) relative to the whole index
    * (background), scored with ES's JLH heuristic
    * `(fg% − bg%) · (fg% / bg%)` and gated by its
    * `min_doc_count` default of 3 foreground docs; only positive
    * scores (actually overrepresented terms) surface. Statistics
    * phases: background df comes from the term DICTIONARIES
    * (pre-tombstone, Lucene's phase — vocabulary-sized), the hit set
    * and foreground counts from live rows only.
    *
    * Cost shape, stated honestly: the foreground pass must read the
    * HIT DOCS' full term lists, so this is the one search-side
    * operation that scans postings un-pruned by term (column-pruned
    * to (term, doc_id, seg), row-pruned by the hit semi join) — the
    * same cost ES warns about for this agg and samples around; run
    * it on sampled or filtered hit sets at 100 TB. The foreground
    * size rides as a broadcast 1-row frame, never a collect. Output:
    * (term, fg_count, bg_count, score), top-k by (score desc, term).
    */
  def significantTerms(spark: SparkSession, rootDir: String,
                       terms: Seq[String], kTerms: Int,
                       minDocCount: Long = 3L): DataFrame =
    multiSignificantTerms(spark, Seq("" -> rootDir), terms, kTerms,
      minDocCount)

  /** [[significantTerms]] across several indices: foreground counts
    * under the (_index, _id) identity, background df the SUM of the
    * per-index dictionaries, N the family total — so a corpus split
    * across indices scores exactly like one combined index. */
  def multiSignificantTerms(spark: SparkSession,
                            indices: Seq[(String, String)],
                            terms: Seq[String], kTerms: Int,
                            minDocCount: Long = 3L): DataFrame = {
    require(terms.nonEmpty, "significantTerms needs query terms")
    require(indices.nonEmpty, "need at least one index")
    requireUniformAnalyzer(indices)
    val perIndex = indices.map { case (name, rootDir) =>
      val root = new java.io.File(rootDir)
      val (nb, segs, _) = readManifest(root)
      val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
      val p = prunedPostings(spark, root, segs, qTerms(root, terms), nb)
      val keepLive = liveDocs(spark, root, segs)
      val hits = keepLive(p).select("doc_id").distinct()
        .withColumn("idx", lit(name))
      val allLive = keepLive(segmentsRead(spark, root, segs)
        .select("term", "doc_id", "seg")).withColumn("idx", lit(name))
      (nDocs, hits, allLive, dictFrame(spark, root, segs))
    }
    val nTotal = perIndex.map(_._1).sum
    val hitsAll = perIndex.map(_._2).reduce(_ unionByName _)
    val fg = perIndex.map { case (_, hits, allLive, _) =>
      allLive.join(hits.drop("idx"), Seq("doc_id"), "left_semi")
    }.reduce(_ unionByName _)
      .groupBy("term")
      .agg(countDistinct(col("idx"), col("doc_id")).as("fg_count"))
    val bg = perIndex.map(_._4).reduce(_ unionByName _)
      .groupBy("term").agg(sum("doc_freq").as("bg_count"))
    fg.join(bg, "term")
      .crossJoin(broadcast(
        hitsAll.agg(count(lit(1)).cast("double").as("fcnt"))))
      .withColumn("fgp",
        col("fg_count").cast("double") / col("fcnt"))
      .withColumn("bgp",
        col("bg_count").cast("double") / lit(nTotal).cast("double"))
      .withColumn("score",
        (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
      .filter(col("fg_count") >= lit(minDocCount) &&
        col("score") > lit(0.0d))
      .select("term", "fg_count", "bg_count", "score")
      .orderBy(desc("score"), asc("term"))
      .limit(kTerms)
  }

  /** [[significantTerms]] with ES's `background_filter` (round-18):
    * the background set narrows to the LIVE docs whose stored
    * `bgField` equals `bgValue` — "what is unusual about these hits
    * versus English docs", not versus the whole index. ES recounts
    * per-term frequencies against the filtered set instead of
    * reading index statistics (its docs warn of the cost; same
    * here: the background side is one live postings read semi-joined
    * to the filter's doc ids — the foreground pass's cost class).
    * Pinned semantics: the FOREGROUND stays the query's hit set
    * exactly as ES leaves it (a caller wanting the subset property
    * includes the filter in the query, ES's own advice); `n_bg` is
    * the filtered set's size; a term with NO background occurrence
    * is EXCLUDED (no evidence to score against — the inner join,
    * stated; ES's heuristic would divide by zero). Output and JLH
    * scoring of [[significantTerms]]. */
  def significantTermsFiltered(spark: SparkSession, rootDir: String,
                               terms: Seq[String], kTerms: Int,
                               bgField: String, bgValue: String,
                               minDocCount: Long = 3L): DataFrame = {
    require(terms.nonEmpty, "significantTerms needs query terms")
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, qTerms(root, terms), nb)
    val keepLive = liveDocs(spark, root, segs)
    val hits = keepLive(p).select("doc_id").distinct()
    val allLive = keepLive(segmentsRead(spark, root, segs)
      .select("term", "doc_id", "seg")).select("term", "doc_id")
    val bgDocs = keepLive(storedFrame(spark, root, segs)
      .filter(col(bgField) === lit(bgValue))).select("doc_id").distinct()
    // ONE corpus postings pass (r18 optimization): the old shape
    // semi-joined `allLive` — the full live postings read, THE cost
    // here — once per side; now hit/bg membership flags meet in one
    // full-outer doc-id frame and ride a single inner join into one
    // grouped pass computing both counts, and both set sizes fall
    // out of the same marks frame in one broadcast row. The
    // fg/bg >= 1 guards replay the old fg-INNER-join-bg semantics
    // (a term absent from either side never surfaced).
    val marks = hits.withColumn("h", lit(true))
      .join(bgDocs.withColumn("b", lit(true)), Seq("doc_id"),
        "full_outer")
    val counts = allLive.join(marks, Seq("doc_id"))
      .groupBy("term")
      .agg(
        countDistinct(when(col("h"), col("doc_id"))).as("fg_count"),
        countDistinct(when(col("b"), col("doc_id"))).as("bg_count"))
    val sizes = marks.agg(
      sum(when(col("h"), lit(1L))).cast("double").as("fcnt"),
      sum(when(col("b"), lit(1L))).cast("double").as("n_bg"))
    counts
      .crossJoin(broadcast(sizes))
      .withColumn("fgp", col("fg_count").cast("double") / col("fcnt"))
      .withColumn("bgp", col("bg_count").cast("double") / col("n_bg"))
      .withColumn("score",
        (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
      .filter(col("fg_count") >= lit(math.max(minDocCount, 1L)) &&
        col("bg_count") >= lit(1L) && col("score") > lit(0.0d))
      .select("term", "fg_count", "bg_count", "score")
      .orderBy(desc("score"), asc("term"))
      .limit(kTerms)
  }

  /** The (doc_id, value) pairs feeding an aggregation: live documents
    * matching ANY query term (tombstoned docs excluded immediately,
    * like hit lists), paired with one stored metadata column — read
    * COLUMN-PRUNED from `_stored/` (parquet's columnar layout IS the
    * doc-values store ES builds separately; text never leaves disk).
    * Documents missing the field are excluded (ES aggs ignore them —
    * sparse mapping, a segment written without the column reads
    * null). */
  private def hitFieldValues(spark: SparkSession, rootDir: String,
      terms: Seq[String], field: String,
      keepMissing: Boolean = false): DataFrame =
    hitFields(spark, rootDir, terms, Seq(field -> "value"),
      requireNonNull = if (keepMissing) Seq.empty else Seq("value"))

  /** The live hit docs paired with SEVERAL stored columns (renamed
    * per the mapping), the multi-field doc-values read behind
    * [[facetStats]] — still one column-pruned `_stored/` scan.
    * `requireNonNull` names output columns whose null rows drop
    * (ES's missing-field exclusion, applied per aggregation role). */
  private def hitFields(spark: SparkSession, rootDir: String,
      terms: Seq[String], fields: Seq[(String, String)],
      requireNonNull: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "aggregations need at least one query term")
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, qTerms(root, terms), nb)
    val keepLive = liveDocs(spark, root, segs)
    val hits = keepLive(p).select("doc_id").distinct()
    val withVals = storedFrame(spark, root, segs)
      .select(col("doc_id") +:
        fields.map { case (f, as) => col(f).as(as) } :+ col("seg"): _*)
    val stored = requireNonNull.foldLeft(withVals) { (df, c) =>
      df.filter(col(c).isNotNull)
    }
    keepLive(stored).join(hits, Seq("doc_id"), "left_semi")
      .select(col("doc_id") +: fields.map(f => col(f._2)): _*)
  }

  /** Live stored values for ATTACHING to an already-computed scored
    * frame (r18 optimization): (doc_id, renamed fields) of every
    * LIVE document, column-pruned like [[hitFields]] but WITHOUT the
    * hit-set semi-join — the caller's join against its scored frame
    * already bounds the result to hit docs, so re-deriving the hit
    * set through a second postings pass (+ tombstone anti-join)
    * bought nothing: the `_stored/` scan was corpus-wide either way.
    * Null-valued rows are kept (to a LEFT join a null value is
    * indistinguishable from an absent row; inner-join callers that
    * must drop missing-field docs filter explicitly). Semantic note:
    * under a multi-word-synonym chain a doc matched ONLY via a
    * phrase clause now attaches its stored value like any other hit
    * (ES's behavior); the old semi-join silently treated such docs
    * as missing the field. */
  private def liveStoredFields(spark: SparkSession,
      root: java.io.File, segs: Seq[Seg],
      fields: Seq[(String, String)]): DataFrame = {
    val stored = storedFrame(spark, root, segs)
      .select(col("doc_id") +:
        fields.map { case (f, as) => col(f).as(as) } :+ col("seg"): _*)
    liveDocs(spark, root, segs)(stored)
      .select(col("doc_id") +: fields.map(f => col(f._2)): _*)
  }

  /** [[liveStoredFields]] for one field renamed `value` — the
    * single-field attach behind the function_score/decay/
    * rank_feature/distance_feature family. */
  private def liveStoredValues(spark: SparkSession, rootDir: String,
      field: String): DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    liveStoredFields(spark, root, segs, Seq(field -> "value"))
  }

  /** `scripted_metric` aggregation — ES's escape-hatch agg
    * (init/map/combine/reduce scripts per bucket), the last
    * commonly-reached agg shape: per bucket of the query's live hit
    * docs, `mapScript` (caller SQL over the stored value `v`)
    * projects each doc's contribution, and `reduceScript` (caller
    * SQL over `acc` and `x`) folds them — Painless replaced by
    * Catalyst-compiled SQL fragments, the runtime-fields/
    * script_score compilation stance (codegen'd, no UDF, no
    * sandboxed interpreter).
    *
    * DETERMINISM CONTRACT, pinned: ES's combine/reduce phases see
    * shard-order-dependent inputs (its docs warn the scripts must be
    * commutative); here the fold instead runs over the bucket's
    * contributions in PINNED DOC-ID ORDER —
    * `aggregate(sort_array(collect_list(struct(doc_id, mv))))`, the
    * nested-sum discipline — so even a NON-commutative double fold
    * is reproducible bit-for-bit under any shuffle or partitioning,
    * and the DuckDB oracle replays it via `list_reduce(list(...
    * ORDER BY doc_id))`. Exact arithmetic is the caller's lever:
    * integer/decimal script types fold exactly; double scripts are
    * deterministic by the pinned order. Per-bucket state is
    * hit-bucket-sized (the collect_list holds the bucket's matched
    * docs only — the ES scripted_metric state contract). Output:
    * (bucket, doc_count, value), bucket-ascending top-k. */
  def scriptedMetricFacet(spark: SparkSession, rootDir: String,
                          terms: Seq[String], bucketField: String,
                          valueField: String, mapScript: String,
                          initScript: String, reduceScript: String,
                          kBuckets: Int = 100): DataFrame = {
    require(mapScript.nonEmpty && initScript.nonEmpty &&
      reduceScript.nonEmpty, "scripted_metric needs map/init/reduce")
    hitFields(spark, rootDir, terms,
      Seq(bucketField -> "bucket", valueField -> "v"),
      requireNonNull = Seq("bucket", "v"))
      .withColumn("mv", expr(mapScript))
      .groupBy("bucket")
      .agg(count(lit(1)).as("doc_count"),
        sort_array(collect_list(struct(col("doc_id"), col("mv"))))
          .as("arr"))
      .withColumn("value", expr(
        s"aggregate(transform(arr, e -> e.mv), $initScript, " +
          s"(acc, x) -> ($reduceScript))"))
      .select("bucket", "doc_count", "value")
      .orderBy(asc("bucket"))
      .limit(kBuckets)
  }

  /** More-like-this — ES's `more_like_this` query, the related-items
    * read every content site serves: the INPUT DOCUMENT's own terms,
    * ranked by tf·idf within it, become the query (ES's exact
    * algorithm: pick the doc's `max_query_terms` most interesting
    * terms gated by `min_doc_freq`, then run them as a disjunction,
    * excluding the document itself).
    *
    * Term selection is IN-PLAN bounded (orderBy + limit before the
    * collect — at most `maxQueryTerms` strings reach the driver, the
    * dictionary-walk posture) and the selected terms feed the scorer
    * as literals, so the serving read is the usual bucket-pruned
    * posting lists. The selected terms are ALREADY index vocabulary —
    * they bypass query-side analysis (re-stemming a stemmed term is
    * not an identity; ES's MLT builds term queries for the same
    * reason). Cost stated honestly: the input doc's term vector
    * rides [[termVectors]]'s by-doc read — term-bucketed postings
    * cannot partition-prune it, the doc_id predicate skips on the
    * sorted files' footer stats, worst case O(postings footprint);
    * exactly why ES recommends feeding MLT `like` text (the
    * stored-field route) when this path is hot.
    *
    * The ranking key is EXACT-INTEGER (the rank-certificate pattern):
    * score_key = Σ_t tf_t · (N·D/df_t) with D = Π df over the
    * selected terms — each weight N·D/df_t is an exact integer (df_t
    * divides D), addends stay far under 2^53 at the bounded corpus,
    * and integer sums are order-free, which is what keeps a
    * data-dependent term set on the DuckDB-hash oracle surface
    * (a per-term fixed-order double pivot needs literal terms).
    * Output: (doc_id, score_key, n_terms_hit), top-k by
    * (score_key desc, doc_id). */
  /** Fold a product of positive factors with a per-step overflow
    * check against `bound`: `acc·f ≤ bound ⟺ acc ≤ bound/f` is exact
    * in non-negative integer division, so the guard fires BEFORE the
    * multiplication can wrap — never on an already-wrapped value
    * (which could land back inside (0, bound] and pass a post-hoc
    * range test). Seam for the envelope spec. */
  private[operators] def checkedRankProduct(factors: Seq[Long],
      bound: Long, msg: String): Long =
    factors.foldLeft(1L) { (acc, f) =>
      require(f > 0 && acc <= bound / f, msg)
      acc * f
    }

  def moreLikeThis(spark: SparkSession, rootDir: String, docId: Long,
                   k: Int, maxQueryTerms: Int = 5,
                   minDocFreq: Long = 2L): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    // the doc's live term vector, joined to the dictionary df
    // (pre-tombstone, the stats phase); selection collects at most
    // maxQueryTerms rows BY CONSTRUCTION
    val tv = termVectors(spark, root.getPath, docId)
      .select(col("term"), col("tf"))
    val dfreq = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("df"))
    val selected = tv.join(dfreq, "term")
      .filter(col("df") >= lit(minDocFreq))
      .orderBy((col("tf").cast("double") *
        (lit(nDocs).cast("double") / col("df").cast("double"))).desc,
        col("term").asc)
      .limit(maxQueryTerms)
      .select("term", "df")
      .as[(String, Long)].collect().toSeq
    if (selected.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "score_key", "n_terms_hit")
    // the exact-integer envelope, checked LOUDLY like every rank
    // certificate: N·D must fit int64 with headroom for the tf sum
    // (tf ≤ dl ≤ 2^16 is generous for any analyzed document; beyond
    // this corpus scale the key must be re-derived, never silently
    // wrapped). The product folds with a PER-STEP overflow check —
    // a wrapped Long product of positives is not guaranteed to land
    // outside (0, bound], so a post-hoc range test on the wrapped
    // value could silently certify a wrong ranking.
    val dProd = checkedRankProduct(selected.map(_._2),
      Long.MaxValue / math.max(nDocs, 1L) / (1L << 16) /
        math.max(maxQueryTerms, 1),
      s"moreLikeThis: integer rank-key envelope exceeded " +
        s"(N=$nDocs) — the exact-ordering certificate " +
        "cannot hold at this corpus scale")
    val weights = selected.map { case (t, df) =>
      (t, nDocs * dProd / df) }.toDF("term", "w")
    val live = livePostings(spark, root, segs, selected.map(_._1), nb)
    live.filter(col("doc_id") =!= lit(docId))
      .join(broadcast(weights), "term")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w")).as("score_key"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score_key"), asc("doc_id"))
      .limit(k)
  }

  /** Term suggester — ES's `suggest.term` (the "did you mean"):
    * dictionary terms within the Lucene-AUTO edit allowance of the
    * NORMALIZED input (≤ 2 edits for inputs of length ≥ 6, else 1 —
    * [[fuzzySearch]]'s exact allowance, with [[graft.operators
    * .Fuzzy]]'s recall-1 SymSpell blocking so the walk reads the
    * vocabulary-sized dictionaries, never a cross product), ranked
    * the way ES ranks suggestions: distance ascending, then document
    * frequency descending (dictionary phase — tombstoned docs count
    * until merge, ES's own suggester caveat), then term. Output:
    * (term, dist, doc_freq), first k. */
  def termSuggest(spark: SparkSession, rootDir: String, input: String,
                  k: Int, maxDist: Int = 2,
                  suggestMode: String = "always"): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"maxDist must be 1 or 2: $maxDist")
    // ES's `suggest_mode`: `always` (the default here — suggest for
    // every input), `missing` (suggest ONLY when the input term is
    // absent from the index — ES's own default; a known term returns
    // no suggestions), `popular` (only candidates MORE FREQUENT than
    // the input term — the "did you mean the common spelling" rule).
    // The input's df is one dictionary-row driver scalar (bounded).
    require(Set("always", "missing", "popular")(suggestMode),
      s"unsupported suggest_mode: $suggestMode " +
        "(always | missing | popular)")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val q = Analyzer.normalize(readAnalyzer(root), input)
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
    val variants =
      (if (maxDist == 2 && q.length >= 6)
        (del1(q) ++ del1(q).flatMap(del1)).distinct
      else del1(q)).toDF("v")
    val allow =
      if (q.length >= 6) math.min(maxDist, 2) else 1
    val dict = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("doc_freq"))
    val inputDf: Long =
      if (suggestMode == "always") 0L
      else dict.filter(col("term") === lit(q))
        .agg(coalesce(sum("doc_freq"), lit(0L)))
        .collect().head.getLong(0)
    if (suggestMode == "missing" && inputDf > 0L)
      return Seq.empty[(String, Long, Long)]
        .toDF("term", "dist", "doc_freq")
    val cands = dict
      .withColumn("v", explode(expr(Fuzzy.delAutoExpr("term", maxDist))))
      .join(broadcast(variants), "v")
      .withColumn("dist", levenshtein(col("term"), lit(q)).cast("long"))
      .filter(col("dist") <= lit(allow.toLong))
    val gated =
      if (suggestMode == "popular")
        cands.filter(col("doc_freq") > lit(inputDf))
      else cands
    gated
      .select("term", "dist", "doc_freq").distinct()
      .orderBy(asc("dist"), desc("doc_freq"), asc("term"))
      .limit(k)
  }

  /** Phrase-length bound for [[phraseSuggest]]: the whole-phrase
    * candidate space is (maxPerPos+1)^positions (a broadcast cross
    * product of per-position shortlists) — bounded by construction,
    * but only because the phrase itself is. ES bounds effective
    * phrase length the same way through its shingle sizes. */
  private[operators] val MaxPhraseSuggestTokens = 5

  /** Phrase suggester — ES's `suggest.phrase`, the whole-phrase
    * did-you-mean (the suggest family's last member, after term
    * (q207), completion (q218/q219) and phrase-prefix (q197)):
    * per-POSITION candidate generation (ES's direct generator) +
    * a REAL-WORD language-model score over the whole corrected
    * phrase — corrections are ranked by corpus statistics and gated
    * against the input's own score, which is what separates this
    * from per-term suggestion. The LM here is unigram (no bigram
    * shingles), which is exactly what ES's phrase suggester degrades
    * to on an unshingled field; its StupidBackoff tier needs shingle
    * subfields this layout does not keep.
    *
    *  - the input analyzes under the index chain's QUERY mirror
    *    (the suggestion space is the indexed vocabulary — stems
    *    under an english chain, exactly like [[termSuggest]]);
    *  - each position's candidates are the dictionary terms within
    *    edit distance 1, found by the recall-1 SymSpell deletion
    *    blocking ([[Fuzzy]]'s scheme — vocabulary-sized, never
    *    corpus-sized) and verified by exact levenshtein, shortlisted
    *    to `maxPerPos` by (distance, df desc, term); the original
    *    token is ALWAYS its own candidate (df 0 when out-of-vocab),
    *    so the identity phrase anchors the confidence gate;
    *  - whole-phrase candidates are the cross product of the
    *    shortlists — (maxPerPos+1)^n rows, broadcast joins, nothing
    *    shuffles — scored by a df-backed add-one unigram LM:
    *    `Π_i (df_i + 1) / (N + V)` with N the stats-phase doc count
    *    and V the vocabulary size (the honest stand-in for ES's
    *    shard LM; every factor is one exact division and the product
    *    folds in position order, so the score is bit-stable
    *    cross-engine);
    *  - `maxErrors` caps CHANGED positions (ES's max_errors) and the
    *    `confidence` gate keeps only candidates scoring strictly
    *    above `confidence · score(input)` — at the default 1.0 a
    *    suggestion must beat the input itself (ES's default), and
    *    the unchanged phrase never returns.
    *
    * Statistics are the dictionary phase (tombstoned docs count
    * until merge — [[termSuggest]]'s posture). Output:
    * (suggestion, score, n_changed), top-k by
    * (score desc, suggestion). */
  def phraseSuggest(spark: SparkSession, rootDir: String,
                    input: String, k: Int, maxPerPos: Int = 5,
                    maxErrors: Int = 1,
                    confidence: Double = 1.0): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val an = readAnalyzer(root)
    val toks = Analyzer.analyzeText(an, input).map(_._2)
    require(toks.nonEmpty,
      "phraseSuggest needs at least one analyzed token")
    require(toks.size <= MaxPhraseSuggestTokens,
      s"phraseSuggest is bounded to $MaxPhraseSuggestTokens analyzed" +
        s" tokens (got ${toks.size}): the candidate space is " +
        "(maxPerPos+1)^positions")
    require(maxPerPos >= 1 && maxPerPos <= 8,
      s"maxPerPos must be in [1, 8]: $maxPerPos")
    require(maxErrors >= 1, s"maxErrors must be >= 1: $maxErrors")
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val dict = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("df")).persist()
    val vocabSize = dict.count()
    val denom = (nDocs + vocabSize).toDouble
    // per-token df for the input phrase's own LM score (the
    // confidence anchor) — a |phrase|-bounded collect
    val origDf = dict
      .filter(col("term").isin(toks.distinct: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    val s0 = toks
      .map(t => (origDf.getOrElse(t, 0L) + 1.0) / denom).product
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
    val variants = toks.zipWithIndex
      .flatMap { case (t, i) => del1(t).distinct.map(v => (i, v, t)) }
      .toDF("pos", "v", "orig")
    val cands = dict
      .withColumn("v", explode(expr(Fuzzy.delAutoExpr("term", 1))))
      .join(broadcast(variants), "v")
      .withColumn("dist",
        levenshtein(col("term"), col("orig")).cast("long"))
      .filter(col("dist") <= 1L)
      .select("pos", "term", "df", "dist").distinct()
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("pos")
      .orderBy(asc("dist"), desc("df"), asc("term"))
    val pool = cands
      .withColumn("r", row_number().over(wp))
      .filter(col("r") <= maxPerPos)
      .select("pos", "term", "df")
      .unionByName(toks.zipWithIndex
        .map { case (t, i) => (i, t, 0L) }.toDF("pos", "term", "df"))
      .groupBy("pos", "term").agg(max("df").as("df"))
      .persist()
    val perPos = toks.indices.map(i =>
      pool.filter(col("pos") === i)
        .select(col("term").as(s"t_$i"), col("df").as(s"df_$i")))
    val cross = perPos.reduce((a, b) => a.crossJoin(broadcast(b)))
    val score = toks.indices
      .map(i => (col(s"df_$i").cast("double") + lit(1.0d)) /
        lit(denom))
      .reduce(_ * _)
    val nChanged = toks.indices
      .map(i => when(col(s"t_$i") === lit(toks(i)), lit(0L))
        .otherwise(lit(1L)))
      .reduce(_ + _)
    cross
      .withColumn("suggestion",
        concat_ws(" ", toks.indices.map(i => col(s"t_$i")): _*))
      .withColumn("score", score)
      .withColumn("n_changed", nChanged)
      .filter(col("n_changed") >= 1L &&
        col("n_changed") <= lit(maxErrors.toLong) &&
        col("score") > lit(confidence * s0))
      .select("suggestion", "score", "n_changed")
      .orderBy(desc("score"), asc("suggestion"))
      .limit(k)
  }

  /** Completion suggester — ES's `suggest.completion`, the FST-backed
    * search-as-you-type path (the suggest family's third member after
    * [[termSuggest]] and [[phrasePrefixSearch]]): dictionary terms
    * starting with the NORMALIZED prefix (multi-term-query rule —
    * lowercase, never stem), ranked weight DESCENDING with duplicate
    * outputs deduplicated across segments (ES's semantics: prefix
    * match, weight desc, dedup by output), term ascending the
    * tiebreak. Weight is the term's document frequency summed over
    * the live segments' `_complete/` dictionaries — the corpus-driven
    * stand-in for ES's doc-supplied completion weights (a dedicated
    * weighted-input completion FIELD would ride the same structure;
    * suggesting the indexed vocabulary is the common
    * search-as-you-type deployment). Statistics are the DICTIONARY
    * phase: tombstoned docs keep counting until a [[merge]]
    * recomputes — ES's own documented suggester caveat.
    *
    * Scale shape: the `pb=` first-character partitioning prunes the
    * walk to ONE directory per segment at planning time (the
    * file-listing analogue of an FST following the prefix arc); the
    * scan is vocabulary-fraction-sized, never postings-sized. A
    * pre-completion segment layout (no `_complete/`) falls back to
    * the term dictionaries — identical results, footer pruning only.
    * Output: (term, weight), top-k by (weight desc, term). */
  def completionSuggest(spark: SparkSession, rootDir: String,
                        prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty, "completionSuggest needs a prefix")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val px = Analyzer.normalize(readAnalyzer(root), prefix)
    val live = segs.filter(_.kind == "seg")
    if (live.isEmpty)
      return Seq.empty[(String, Long)].toDF("term", "weight")
    // mirror the write side's partition key exactly ([[pbKeyOf]])
    val pb = pbKeyOf(px)
    // PER-SEGMENT layout fallback: a mixed index (new segments with
    // `_complete/`, legacy segments without — a partial upgrade) keeps
    // the pruned walk wherever the artifact exists and degrades ONLY
    // the legacy segments to their `_dict` (identical results — both
    // are the dictionary phase). An all-or-nothing fallback would let
    // one legacy segment silently cost every segment its pruning.
    val cand = live.map { sg =>
      val segDir = new java.io.File(root, sg.name)
      val dd = new java.io.File(segDir, "_complete")
      if (dd.isDirectory)
        graft.engine.Pq.readHidden(spark, Seq(dd.getPath),
            Some(CompleteSchema))
          .filter(col("pb") === lit(pb) &&
            col("term").startsWith(px))
          .select("term", "weight")
      else
        graft.engine.Pq.readHidden(spark,
            Seq(new java.io.File(segDir, "_dict").getPath), Some(DictSchema))
          .select(col("term"), col("doc_freq").as("weight"))
          .filter(col("term").startsWith(px))
    }.reduce(_ unionByName _)
    cand.groupBy("term").agg(sum("weight").as("weight"))
      .orderBy(desc("weight"), asc("term"))
      .limit(k)
  }

  /** FUZZY completion suggest — ES's `suggest.completion.fuzzy`
    * (typo-tolerant autocomplete: "vectr" still suggests "vector"):
    * a dictionary term matches when SOME prefix of it sits within
    * `fuzziness` edits of the typed prefix. ES's `prefix_length`
    * default of 1 is load-bearing here and kept FIXED: the first
    * character must match exactly, which is precisely what lets the
    * `pb=` first-code-point partition pruning survive fuzziness — an
    * edit at position 0 would force reading every partition (ES pays
    * the same expansion cost in its FST when prefix_length is 0).
    * The edit check is `levenshtein` over the candidate's
    * length-(n−1..n+1) prefixes (a prefix within distance f has
    * length within ±f of the query — f=1 here; both engines compute
    * plain Levenshtein, so the oracle replays it verbatim), run
    * INSIDE the pruned per-segment `_complete/` walk
    * ([[completionSuggest]]'s layout and fallback). Output:
    * (term, weight), (weight desc, term) top-k. */
  def completionSuggestFuzzy(spark: SparkSession, rootDir: String,
                             prefix: String, k: Int,
                             fuzziness: Int = 1): DataFrame = {
    require(fuzziness == 1,
      "only fuzziness=1 is implemented (the ±length prefix window " +
        "below is derived for f=1)")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val px = Analyzer.normalize(readAnalyzer(root), prefix)
    require(px.length >= 2,
      "fuzzy completion needs at least 2 prefix chars " +
        "(prefix_length 1 + an editable tail)")
    val live = segs.filter(_.kind == "seg")
    if (live.isEmpty)
      return Seq.empty[(String, Long)].toDF("term", "weight")
    val n = px.length
    val pb = pbKeyOf(px)
    def fuzzyCond: org.apache.spark.sql.Column = {
      val eds = Seq(n - 1, n, n + 1).filter(_ >= 1).map(l =>
        levenshtein(substring(col("term"), 1, l), lit(px)))
      col("term").startsWith(px.take(1)) &&
        eds.reduce(least(_, _)) <= lit(fuzziness)
    }
    val cand = live.map { sg =>
      val segDir = new java.io.File(root, sg.name)
      val dd = new java.io.File(segDir, "_complete")
      if (dd.isDirectory)
        graft.engine.Pq.readHidden(spark, Seq(dd.getPath),
            Some(CompleteSchema))
          .filter(col("pb") === lit(pb) && fuzzyCond)
          .select("term", "weight")
      else
        graft.engine.Pq.readHidden(spark,
            Seq(new java.io.File(segDir, "_dict").getPath), Some(DictSchema))
          .select(col("term"), col("doc_freq").as("weight"))
          .filter(fuzzyCond)
    }.reduce(_ unionByName _)
    cand.groupBy("term").agg(sum("weight").as("weight"))
      .orderBy(desc("weight"), asc("term"))
      .limit(k)
  }

  /** Completion FIELD suggester — ES's actual completion mapping
    * shape (`{ "suggest": { "input": ..., "weight": ... } }`): the
    * suggestion inputs come from a STORED FIELD of the documents and
    * the weights are DOC-SUPPLIED (another stored field), which is
    * what separates this from [[completionSuggest]]'s
    * vocabulary-with-df deployment. Live documents only — STRICTER
    * than ES's FST, which serves deleted docs' inputs until merge
    * (the [[writeCField]] scaladoc argues the divergence); inputs
    * normalize under the index chain's multi-term rule (lowercase iff
    * the chain lowercases — ES's completion fields default to their
    * `simple` lowercase analyzer), prefix match, duplicate outputs
    * dedup keeping the MAX weight (ES's rule), top-k by
    * (weight desc, input).
    *
    * Scale shape, on an index whose `cf=` MAPPING names these fields:
    * each segment's read is its materialized `_cfield/` artifact —
    * the `pb=` first-code-point partitioning prunes the walk to ONE
    * directory per segment at PLANNING time and the input-sorted row
    * groups footer-prune to the prefix range, so a per-keystroke call
    * reads a prefix-neighborhood slice, never the corpus (the
    * file-listing analogue of Lucene following the FST's prefix arc);
    * the tombstone anti-join and max-weight fold run over that
    * bounded slice. PER-SEGMENT fallback: a legacy segment (written
    * before the mapping, or pre-`_cfield` layout) degrades alone to a
    * column-pruned `_stored/` scan with identical live-doc semantics
    * — one slow segment never costs the others their pruning.
    * UNMAPPED indexes (or a call naming fields other than the
    * mapping's) serve entirely from the stored scan — correct, and
    * honestly the plan you get when the index never declared the
    * field (ES simply has no completion field to query there).
    * Output: (input, weight). */
  def completionFieldSuggest(spark: SparkSession, rootDir: String,
                             inputField: String, weightField: String,
                             prefix: String, k: Int,
                             context: Option[String] = None)
      : DataFrame = {
    require(prefix.nonEmpty, "completionFieldSuggest needs a prefix")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val an = readAnalyzer(root)
    val px = Analyzer.normalize(an, prefix)
    val live = segs.filter(_.kind == "seg")
    if (live.isEmpty)
      return Seq.empty[(String, Long)].toDF("input", "weight")
    val triple = cfTripleOf(root)
    val mapped = triple.exists(t =>
      t._1 == inputField && t._2 == weightField)
    // a CONTEXT-filtered suggest requires the mapping to declare a
    // context field (ES rejects a context query against a
    // context-less completion mapping) — loud, never silently empty
    require(context.isEmpty || triple.exists(_._3.nonEmpty),
      "context-filtered suggest needs a completion mapping with a " +
        s"context field (mapping: ${triple.map(t =>
          cfSpec((t._1, t._2), t._3)).getOrElse("none")})")
    val ctxField = triple.flatMap(_._3)
    // the stored-scan read for ONE segment — the fallback plan (and
    // the whole plan on an unmapped index): column-pruned to the two
    // fields, normalized and prefix-filtered on read. A segment whose
    // stored schema lacks either field contributes nothing (sparse
    // batches — the same nulls the storedFrame union would produce).
    def storedSlice(sg: Seg): DataFrame = {
      val st = storedRead(spark, root, sg)
      if (!st.columns.contains(inputField) ||
        !st.columns.contains(weightField))
        return Seq.empty[(String, Long, Long, String)]
          .toDF("input", "weight", "doc_id", "ctx")
      st.select(
        (if (an.lowercase) lower(col(inputField))
         else col(inputField)).as("input"),
        col(weightField).cast("long").as("weight"),
        col("doc_id").cast("long").as("doc_id"),
        (ctxField match {
          case Some(c) if st.columns.contains(c) =>
            col(c).cast("string")
          case _ => lit(null).cast("string")
        }).as("ctx"))
        .filter(col("input").isNotNull && col("weight").isNotNull &&
          col("input").startsWith(px))
    }
    val pb = pbKeyOf(px)
    val cand = live.map { sg =>
      val cdir = new java.io.File(
        new java.io.File(root, sg.name), "_cfield")
      val slice =
        if (mapped && cdir.isDirectory)
          graft.engine.Pq.readHidden(spark, Seq(cdir.getPath),
              Some(CFieldSchema))
            .filter(col("pb") === lit(pb) &&
              col("input").startsWith(px))
            .select("input", "weight", "doc_id", "ctx")
        else storedSlice(sg)
      slice.withColumn("seg", lit(sg.name.stripPrefix("seg=")))
    }.reduce(_ unionByName _)
      // the context filter applies on the pruned candidate slice —
      // candidate-sized, never corpus-sized
      .transform(c => context.fold(c)(v => c.filter(col("ctx") === lit(v))))
    val liveCand = liveDocs(spark, root, segs)(cand)
    liveCand
      .groupBy("input").agg(max("weight").as("weight"))
      .orderBy(desc("weight"), asc("input"))
      .limit(k)
  }

  /** Two-term SLOPPY phrase — ES's `match_phrase` with `slop` on a
    * two-term phrase (the overwhelmingly common slop usage: "find
    * A near-before B"): a document matches when SOME pair of
    * occurrence positions (p for the first term, q for the second)
    * needs at most `slop` position MOVES to become adjacent in
    * order — `|q − p − 1|` moves, so an in-order gap of g costs g
    * and transposed adjacent terms cost 2 (ES's own documented
    * example), and slop 0 degrades to the exact adjacent phrase.
    * The n-term generalization is Lucene's full SloppyPhraseMatcher
    * (an alignment optimization with repeat handling) and is
    * deliberately out of scope — stated, not approximated; repeated
    * terms are rejected for the same reason (a single occurrence
    * must not match against itself).
    *
    * Scale shape: two bucket-pruned posting lists join on doc_id and
    * the min-moves fold runs INSIDE one codegen'd array expression
    * over the inline position arrays (tf_a·tf_b pairs per doc —
    * Lucene's own per-doc cost); no explode, no extra shuffle.
    * Output: (doc_id, min_moves), doc_id-ascending, first k. */
  def sloppyPhraseSearch(spark: SparkSession, rootDir: String,
                         first: String, second: String, slop: Int,
                         k: Int): DataFrame =
    sloppyPhraseDocs(spark, rootDir, first, second, slop)
      .orderBy("doc_id").limit(k)

  /** [[sloppyPhraseSearch]]'s un-ranked frame — (doc_id, min_moves)
    * for EVERY matching doc, no top-k: the shape composite callers
    * (query_string's slop leaves) gate on without planting a
    * corpus-wide global limit in the middle of their plan. */
  private[operators] def sloppyPhraseDocs(spark: SparkSession,
      rootDir: String, first: String, second: String, slop: Int)
      : DataFrame = {
    require(slop >= 0, s"slop must be >= 0: $slop")
    val root = new java.io.File(rootDir)
    val qa = qTerms(root, Seq(first))
    val qb = qTerms(root, Seq(second))
    require(qa.size == 1 && qb.size == 1,
      "each phrase slot must analyze to exactly one term")
    val (ta, tb) = (qa.head, qb.head)
    require(ta != tb, "repeated-term sloppy phrases need Lucene's " +
      "repeat handling — unsupported")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, Seq(ta, tb), nb)
      .filter(col("term").isin(ta, tb))
    val live = liveDocs(spark, root, segs)(p)
    val pa = live.filter(col("term") === lit(ta))
      .select(col("doc_id"), col("positions").as("pa"))
    val pb = live.filter(col("term") === lit(tb))
      .select(col("doc_id"), col("positions").as("pb"))
    pa.join(pb, "doc_id")
      .withColumn("min_moves", expr(
        "array_min(flatten(transform(pa, " +
          "p -> transform(pb, q -> abs(q - p - 1)))))"))
      .filter(col("min_moves") <= lit(slop.toLong))
      .select("doc_id", "min_moves")
  }

  /** Function-score with a DECAY kernel — ES's `function_score`
    * decay family (`linear`/`gauss`/`exp`) on a numeric field, the
    * "prefer things near this value" ranking (recency, price,
    * distance). Kernels, ES's exact parameterization (decay is the
    * multiplier reached at `scale` distance for all three):
    *
    *   linear: λ = scale / (1 − decay)
    *           mult = max(0, (λ − |v − origin|) / λ)
    *   gauss:  mult = decay^((|v − origin| / scale)²)
    *           (= exp(−d²/2σ²) with σ² = −scale²/(2·ln decay))
    *   exp:    mult = decay^(|v − origin| / scale)
    *           (= exp(λd) with λ = ln(decay)/scale)
    *
    * ORACLE CONTRACT by kernel: `linear` is pure +,−,×,÷ arithmetic
    * — bit-stable on the hash-oracle surface. `gauss`/`exp` go
    * through libm `exp`, whose LAST-BIT behavior differs across
    * engines (ES's own scores are approximate there) — their
    * multipliers are exact-shape but tolerance-grade, so oracled
    * entries must compare BANDS or booleans (the q43 sketch
    * precedent), never raw multiplier hashes. Both are computed as
    * exp(exponent·ln(decay)) with the exponent in exact double
    * arithmetic, so monotonicity in |v − origin| is inherited from
    * libm's monotone exp.
    *
    * Documents missing the field multiply by 1 (ES's rule — decay
    * functions skip docs without the field). Output: (doc_id, score,
    * decay_mult, n_terms_hit), top-k by (score desc, doc_id). */
  def decayScoreSearch(spark: SparkSession, rootDir: String,
                       terms: Seq[String], field: String,
                       origin: Long, scale: Long, k: Int,
                       decay: Double = 0.5,
                       kernel: String = "linear"): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    require(decay > 0.0 && decay < 1.0,
      s"decay must be in (0, 1): $decay")
    require(Set("linear", "gauss", "exp")(kernel),
      s"unsupported decay kernel: $kernel")
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass)
    val vals = liveStoredValues(spark, rootDir, field)
    val dist = abs(col("value") - lit(origin)).cast("double")
    val mult = kernel match {
      case "linear" =>
        val lam = scale / (1.0 - decay)
        greatest(lit(0.0d), (lit(lam) - dist) / lit(lam))
      case "gauss" =>
        exp((dist / lit(scale.toDouble)) * (dist / lit(scale.toDouble))
          * lit(math.log(decay)))
      case "exp" =>
        exp((dist / lit(scale.toDouble)) * lit(math.log(decay)))
    }
    scored.join(vals, Seq("doc_id"), "left")
      .withColumn("decay_mult",
        when(col("value").isNull, lit(1.0d)).otherwise(mult))
      .withColumn("score", col("score") * col("decay_mult"))
      .select("doc_id", "score", "decay_mult", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Named-query reporting — ES's bool `_name` / `matched_queries`:
    * each hit carries WHICH named clauses matched it (should
    * semantics — any match returns the doc), the debugging/relevance
    * breadcrumb every complex bool query turns on. The names return
    * as one comma-joined SORTED string (ES returns an array; the
    * string keeps the result on the hash-oracle surface). One
    * bucket-pruned postings scan of all clauses' terms + the
    * broadcast (name, term) membership join + a per-doc sorted
    * collect. Output: (doc_id, matched_queries), doc_id-ascending,
    * first k. */
  def namedQueriesSearch(spark: SparkSession, rootDir: String,
                         queries: Seq[(String, Seq[String])],
                         k: Int): DataFrame = {
    require(queries.nonEmpty, "namedQueriesSearch needs queries")
    require(queries.map(_._1).distinct.size == queries.size,
      "query names must be unique")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val analyzed = queries.map { case (n, ts) => n -> qTerms(root, ts) }
    val allTerms = analyzed.flatMap(_._2).distinct
    if (allTerms.isEmpty)
      return Seq.empty[(Long, String)].toDF("doc_id", "matched_queries")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, allTerms, nb)
      .filter(col("term").isin(allTerms: _*))
    val live = liveDocs(spark, root, segs)(p)
    val membership = analyzed
      .flatMap { case (n, ts) => ts.map(t => (n, t)) }
      .toDF("name", "term")
    live.join(broadcast(membership), "term")
      .groupBy("doc_id")
      .agg(concat_ws(",", sort_array(collect_set(col("name"))))
        .as("matched_queries"))
      .orderBy("doc_id").limit(k)
  }

  /** Terms-set query — ES's `terms_set` ("match at least M of these
    * N terms"), the tunable middle ground between bool's OR and AND:
    * exactly [[search]]'s scored hit set constrained to docs whose
    * DISTINCT matched-term count reaches `minMatch` (ES scores the
    * survivors like the equivalent bool/should — same tf·(N/df)
    * arithmetic here, so the whole query stays on the oracle
    * surface). minMatch = 1 degrades to [[search]], minMatch = N to
    * the conjunction. Output: [[search]]'s schema, top-k. */
  def termsSetQuery(spark: SparkSession, rootDir: String,
                    terms: Seq[String], minMatch: Int,
                    k: Int): DataFrame = {
    require(minMatch >= 1, s"minMatch must be >= 1: $minMatch")
    scoredHits(spark, rootDir, terms)
      .filter(col("n_terms_hit") >= lit(minMatch.toLong))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Dis-max query — ES's `dis_max` (disjunction max): clauses score
    * independently and a document's score is its BEST clause plus
    * `tieBreaker` times the rest — the "fields compete, don't pile
    * up" combinator behind multi-field search (a doc matching one
    * clause strongly should beat a doc matching many weakly).
    * score = best + tieBreaker·(Σ − best); with tieBreaker 0 (ES's
    * default) pure max, with 1 exactly bool/should. Every clause is
    * a term query scored by [[search]]'s exact arithmetic; absent
    * clauses contribute 0. The combination is max + one multiply
    * over the FIXED clause order — deterministic doubles, oracle
    * surface. Clause hit sets meet in full-outer joins on doc_id
    * (O(clauses) joins, clause lists are query-bounded). Output:
    * (doc_id, score, n_clauses_hit), top-k by (score desc, doc_id).
    */
  def disMaxSearch(spark: SparkSession, rootDir: String,
                   clauses: Seq[Seq[String]], tieBreaker: Double,
                   k: Int): DataFrame = {
    require(clauses.nonEmpty, "disMaxSearch needs clauses")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1]: $tieBreaker")
    val frames = clauses.zipWithIndex.map { case (ts, i) =>
      scoredHits(spark, rootDir, ts)
        .select(col("doc_id"), col("score").as(s"s_$i"))
    }
    val joined = frames
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val hitFlags = clauses.indices
      .map(i => when(col(s"s_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
    val scores = clauses.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0d)))
    val best =
      if (scores.size == 1) scores.head else greatest(scores: _*)
    val total = scores.reduce(_ + _)
    joined
      .withColumn("score",
        best + lit(tieBreaker) * (total - best))
      .withColumn("n_clauses_hit", hitFlags.reduce(_ + _))
      .select("doc_id", "score", "n_clauses_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `combined_fields` — ES 7.13+'s term-centric multi-field query
    * (Lucene's CombinedFieldQuery): the fields score AS IF their
    * contents were one synthetic combined field, the principled
    * alternative to cross_fields. Pinned formula, stated:
    *
    *   ctf(doc, t) = Σ_field weight_f · tf_f(doc, t)
    *   df(t)       = |docs holding t in ANY field|  (the synthetic
    *                 field's document frequency — what a literal
    *                 combined field would have; Lucene approximates
    *                 the merged statistics, this engine computes
    *                 them exactly)
    *   score(doc)  = Σ_t ctf · (N / df)   (fixed term order)
    *
    * Field weights are ES's per-field boosts (`fields: ["title^2"]`)
    * and multiply INSIDE the tf — the BM25F posture — not outside
    * the whole clause like a query boost. Weights must be WHOLE
    * numbers (`require`d, ES's own combined_fields restriction —
    * "per-field boosts … must be >= 1.0" and integral there for the
    * same reason): integral weighted tfs are exact in doubles, so
    * the per-(term, doc) combine sum is order-FREE and the score
    * stays on the hash-oracle surface with any field count. The doc
    * count N is the shared doc-id space's (the families index the
    * same documents; `require`d equal). Statistics include
    * tombstoned docs, hits exclude them — the engine-wide Lucene
    * rule, applied to the combined postings. One bucket-pruned
    * postings read per field, one (term, doc) combine, no corpus
    * scan. Output: (doc_id, score, n_terms_hit), top-k by
    * (score desc, doc_id). */
  def combinedFieldsSearch(spark: SparkSession,
                           fields: Seq[(String, String, Double)],
                           terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty, "combined_fields needs fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate fields")
    fields.foreach { case (f, _, w) =>
      require(w >= 1.0 && w == math.rint(w) && w <= (1L << 20),
        s"combined_fields weights must be whole numbers >= 1: $f^$w")
    }
    // per-field analysis (each family's own chain), per-field pruned
    // postings; the combine keys on the ANALYZED term of the FIRST
    // field — combined statistics presume one vocabulary, so the
    // query terms must analyze 1:1 across families (require'd)
    val perField = fields.map { case (fn, rootDir, w) =>
      val root = new java.io.File(rootDir)
      val qts = qTerms(root, terms)
      (fn, root, w, qts)
    }
    val qhead = perField.head._4
    require(perField.forall(_._4 == qhead),
      "combined_fields needs the query to analyze identically " +
        "across families (one synthetic vocabulary): " +
        perField.map(p => p._1 + "=" + p._4.mkString("/"))
          .mkString(", "))
    if (qhead.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    val parts = perField.map { case (_, root, w, qts) =>
      val (nb, segs, _) = readManifest(root)
      val p = prunedPostings(spark, root, segs, qts, nb)
      (p.select(col("term"), col("doc_id"),
        (col("tf").cast("double") * lit(w)).as("wtf"),
        col("seg")),
        liveDocs(spark, root, segs),
        segs.filter(_.kind == "seg").map(_.nDocs).sum)
    }
    val nDocs = parts.head._3
    require(parts.forall(_._3 == nDocs),
      "combined_fields families must index the same doc space " +
        s"(nDocs differ: ${parts.map(_._3).mkString(", ")})")
    // df over the PRE-tombstone union (stats include deletes);
    // hits over the live union
    val all = parts.map(_._1).reduce(_ unionByName _)
    val dfreq = all.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = parts.map { case (p, keepLive, _) => keepLive(p) }
      .reduce(_ unionByName _)
    val combined = live.groupBy("term", "doc_id")
      .agg(sum("wtf").as("ctf"))
      .join(dfreq, "term")
    val contribs = qhead.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t),
        col("ctf") * (lit(nDocs).cast("double") /
          col("doc_freq").cast("double")))
        .otherwise(lit(0.0d))).as(s"c_$i")
    }
    val score = qhead.indices.map(i => col(s"c_$i")).reduce(_ + _)
    combined.groupBy("doc_id")
      .agg(countDistinct(col("term")).as("n_terms_hit"),
        contribs: _*)
      .select(col("doc_id"), score.as("score"), col("n_terms_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `has_child` — ES's join-field query ("return PARENTS with a
    * matching child"): parent and child documents live in ONE index
    * (ES's join field: the child carries its relation name and its
    * parent's id; here two stored columns, `typeField` holding the
    * relation name and `parentField` the parent doc id — the
    * mapping, lifted into the sparse stored schema). The child
    * query's live hits restrict to `childType` docs, group by their
    * parent id, and the surviving LIVE parents return.
    *
    * Score modes — the FULL ES set: `none` (ES's default — filter
    * context, parents score 0), `max`/`min` (exact double extrema —
    * order-free), and `sum`/`avg` with the float-order hazard solved
    * the [[nestedQuery]] way: matched children's scores fold in
    * PINNED CHILD-ID order (`sort_array(collect_list(struct(child_id,
    * score)))` + a sequential `aggregate`), one canonical double
    * sequence per parent under any shuffle order; avg is ONE exact
    * division of that pinned sum by the exact child count. The
    * DuckDB oracle replays the identical fold via `list_reduce([0.0]
    * || list(score ORDER BY doc_id), +)`.
    *
    * Scale shape: the child hit set is postings-pruned, the join
    * columns are ONE column-pruned stored read, and the group-by
    * shuffles only MATCHED children (ES co-locates parent and child
    * in one shard via parent routing for the same reason — the
    * relation never crosses the corpus). Output: (doc_id, score,
    * n_children_matched), top-k by (score desc, doc_id). */
  def hasChildSearch(spark: SparkSession, rootDir: String,
                     childTerms: Seq[String], childType: String,
                     parentType: String, scoreMode: String, k: Int,
                     typeField: String = "join_name",
                     parentField: String = "parent_id"): DataFrame = {
    require(Set("none", "max", "min", "sum", "avg")(scoreMode),
      s"unsupported has_child score_mode: $scoreMode " +
        "(none | max | min | sum | avg)")
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val live = liveDocs(spark, root, segs)(storedFrame(spark, root, segs)
      .select(col("doc_id"), col(typeField).as("jt"),
        col(parentField).as("pid"), col("seg")))
    val hits = scoredHits(spark, rootDir, childTerms)
      .select("doc_id", "score")
    val children = live
      .filter(col("jt") === lit(childType) && col("pid").isNotNull)
      .join(hits, Seq("doc_id"))
    val byParent = children
      .select(col("pid"), col("doc_id").as("cid"), col("score"))
      .groupBy(col("pid").as("doc_id"))
      .agg(count(lit(1)).as("n_children_matched"),
        max("score").as("cmax"), min("score").as("cmin"),
        sort_array(collect_list(struct(col("cid").as("c"),
          col("score").as("s")))).as("css"))
    // the pinned fold: child scores add in child-id order, one
    // canonical double sequence per parent
    val csum = aggregate(col("css"), lit(0.0d),
      (acc, x) => acc + x.getField("s"))
    val scoreCol = scoreMode match {
      case "max" => col("cmax")
      case "min" => col("cmin")
      case "sum" => csum
      case "avg" => csum / col("n_children_matched").cast("double")
      case _     => lit(0.0d)
    }
    val parents = live
      .filter(col("jt") === lit(parentType)).select("doc_id")
    parents.join(byParent, Seq("doc_id"))
      .withColumn("score", scoreCol)
      .select("doc_id", "score", "n_children_matched")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `has_parent` — the join-field mirror ("return CHILDREN whose
    * parent matches"): the parent query's live hits restrict to
    * `parentType` docs and every LIVE `childType` doc pointing at
    * one returns. `withScore` is ES's `score` flag: true hands each
    * child its parent's score (there is exactly one parent — no
    * combiner, no float-order hazard), false is filter context
    * (score 0). Same one-stored-read, matched-rows-only join shape
    * as [[hasChildSearch]]. Output: (doc_id, score), top-k by
    * (score desc, doc_id). */
  def hasParentSearch(spark: SparkSession, rootDir: String,
                      parentTerms: Seq[String], parentType: String,
                      childType: String, withScore: Boolean, k: Int,
                      typeField: String = "join_name",
                      parentField: String = "parent_id"): DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val live = liveDocs(spark, root, segs)(storedFrame(spark, root, segs)
      .select(col("doc_id"), col(typeField).as("jt"),
        col(parentField).as("pid"), col("seg")))
    val parentHits = scoredHits(spark, rootDir, parentTerms)
      .select(col("doc_id"), col("score"))
      .join(live.filter(col("jt") === lit(parentType))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("pid"), col("score"))
    live
      .filter(col("jt") === lit(childType) && col("pid").isNotNull)
      .join(parentHits, Seq("pid"))
      .withColumn("score",
        if (withScore) col("score") else lit(0.0d))
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** NESTED documents — ES's `nested` mapping + query, the most-used
    * relation feature in real mappings (object-array fields whose
    * sub-objects must match queries INDIVIDUALLY, not as a blended
    * bag): Lucene indexes each sub-object as a HIDDEN SUB-DOCUMENT in
    * the parent's block, and a `nested: {path, query}` matches a
    * parent iff SOME single sub-document satisfies the whole inner
    * query — field A of one sub-object plus field B of another must
    * NOT match (the entire point of `nested` vs a flattened
    * `object`). The reference delegates exactly this to ES
    * (`api/controllers/elastic_controller.go:184-250` indexes; the
    * nested query is ES `_search` semantics).
    *
    * This engine mirrors Lucene's layout Spark-first: the nested path
    * is its OWN segment family whose docs are the sub-documents
    * (doc_id = a synthetic nested id), each stored row carrying
    * `parent_id` and `ord` (the block-position column — Lucene's
    * parent bitset lifted into two stored columns). Because every
    * sub-document is a real doc in that family, the inner query —
    * scoring terms plus an optional stored-field equality
    * (`storedEq`, the `term` filter on a nested field) — evaluates
    * PER SUB-DOCUMENT by construction, which is precisely the
    * block-scoped matching rule. Term statistics (N, df) are the
    * nested family's own, exactly Lucene's (sub-documents are real
    * docs in the same index; ES's BM25 stats there count them).
    *
    * Block deletes follow Lucene: deleting a parent tombstones its
    * whole block in the nested family (the fixture's delete batches
    * do both), and parent liveness is ALSO checked against the
    * parent family (`parentRootDir`) — a dead parent cannot be
    * resurrected by a stale nested block (the has_child q285 rule).
    *
    * `scoreMode` — the FULL ES set: `none` (filter context, score
    * 0), `max`/`min` (exact double extrema — order-free), `sum` and
    * `avg` (ES's nested DEFAULT). Sum and avg fold the matched
    * sub-document scores in PINNED BLOCK-ORDINAL order — `sort_array
    * (collect_list(struct(ord, score)))` then a sequential
    * `aggregate` fold, the scoreLive fixed-order discipline — so the
    * double additions happen in one canonical order under any
    * shuffle or partitioning, and avg is ONE exact division of that
    * pinned sum by the exact match count (the statsFacet precedent).
    * The DuckDB oracle replays the identical fold via
    * `list_reduce([0.0] || list(score ORDER BY ord), +)`. Plan
    * shape: the inner hits come off the nested family's pruned
    * postings; the relation columns are ONE column-pruned stored
    * read; only MATCHED sub-documents shuffle (grouped by parent);
    * parent liveness is a semi-join against the parent family's live
    * id set. Output: (doc_id, score, n_nested_matched), top-k by
    * (score desc, doc_id). */
  def nestedQuery(spark: SparkSession, nestedRootDir: String,
                  parentRootDir: String, terms: Seq[String],
                  storedEq: Option[(String, String)], scoreMode: String,
                  k: Int, parentIdField: String = "parent_id",
                  ordField: String = "ord")
      : DataFrame = {
    require(Set("none", "max", "min", "sum", "avg")(scoreMode),
      s"unsupported nested score_mode: $scoreMode " +
        "(none | max | min | sum | avg)")
    val matched = nestedMatched(spark, nestedRootDir, terms, storedEq,
      parentIdField, Seq(ordField))
    val byParent = matched
      .groupBy(col("pid").as("doc_id"))
      .agg(count(lit(1)).as("n_nested_matched"),
        max("score").as("nmax"), min("score").as("nmin"),
        sort_array(collect_list(struct(col(ordField).as("o"),
          col("score").as("s")))).as("oss"))
    // the pinned fold: sub-document scores add in block-ordinal
    // order, one canonical double sequence per parent
    val nsum = aggregate(col("oss"), lit(0.0d),
      (acc, x) => acc + x.getField("s"))
    val scoreCol = scoreMode match {
      case "max" => col("nmax")
      case "min" => col("nmin")
      case "sum" => nsum
      case "avg" => nsum / col("n_nested_matched").cast("double")
      case _     => lit(0.0d)
    }
    byParent
      .join(liveIds(spark, parentRootDir), Seq("doc_id"), "left_semi")
      .withColumn("score", scoreCol)
      .select("doc_id", "score", "n_nested_matched")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `inner_hits` for [[nestedQuery]]: the matched SUB-DOCUMENTS
    * themselves (which sub-object hit, not just which parent) —
    * (doc_id = parent, ord, score), top-k by (score desc, doc_id,
    * ord). `perParent` is ES's inner_hits `size` (default 3 there):
    * when set, each parent keeps only its best N sub-documents
    * (score desc, ord tiebreak) BEFORE the global top-k — a
    * parent-partitioned rank window over the matched-sub-document
    * frame (matched-sized, never corpus-sized). Same plan as the
    * query; parents filtered live the same way. */
  def nestedInnerHits(spark: SparkSession, nestedRootDir: String,
                      parentRootDir: String, terms: Seq[String],
                      storedEq: Option[(String, String)], k: Int,
                      parentIdField: String = "parent_id",
                      ordField: String = "ord",
                      perParent: Option[Int] = None): DataFrame = {
    perParent.foreach(n =>
      require(n >= 1, s"inner_hits size must be >= 1: $n"))
    val matched = nestedMatched(spark, nestedRootDir, terms, storedEq,
      parentIdField, Seq(ordField))
      .select(col("pid").as("doc_id"), col(ordField), col("score"))
    val capped = perParent match {
      case None => matched
      case Some(n) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(desc("score"), asc(ordField))
        matched.withColumn("ihr", row_number().over(w))
          .filter(col("ihr") <= n).drop("ihr")
    }
    capped
      .join(liveIds(spark, parentRootDir), Seq("doc_id"), "left_semi")
      .orderBy(desc("score"), asc("doc_id"), asc(ordField))
      .limit(k)
  }

  /** The `nested` AGGREGATION — ES's `aggs: { nested: { path },
    * aggs: { terms: { field } } }`: bucket the SUB-DOCUMENTS of the
    * parents matching an outer query by a nested field. The outer
    * query runs on the parent family; live nested rows under those
    * parents bucket in one column-pruned stored read + semi-join.
    * Output: (value, doc_count), top-k by (doc_count desc, value). */
  def nestedFacet(spark: SparkSession, parentRootDir: String,
                  nestedRootDir: String, outerTerms: Seq[String],
                  bucketField: String, kBuckets: Int,
                  parentIdField: String = "parent_id"): DataFrame = {
    val parents = scoredHits(spark, parentRootDir, outerTerms)
      .select("doc_id")
    val root = new java.io.File(nestedRootDir)
    val (_, segs, _) = readManifest(root)
    val stored = storedFrame(spark, root, segs)
      .select(col("doc_id"), col(parentIdField).as("pid"),
        col(bucketField).as("value"), col("seg"))
    val live = liveDocs(spark, root, segs)(stored)
    live
      .join(parents.withColumnRenamed("doc_id", "pid"),
        Seq("pid"), "left_semi")
      .filter(col("value").isNotNull)
      .groupBy("value")
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** Shared inner-query evaluation for the nested family: live
    * scoring hits of `terms`, optionally gated by a stored-field
    * equality ON THE SAME SUB-DOCUMENT (the block-isolation rule),
    * joined to the relation columns. Returns (doc_id = nested id,
    * pid, score [, extra stored columns]). */
  private def nestedMatched(spark: SparkSession, nestedRootDir: String,
      terms: Seq[String], storedEq: Option[(String, String)],
      parentIdField: String, extraCols: Seq[String] = Seq.empty)
      : DataFrame = {
    val root = new java.io.File(nestedRootDir)
    val (_, segs, _) = readManifest(root)
    val cols = Seq(col("doc_id"), col(parentIdField).as("pid"),
      col("seg")) ++ storedEq.map(e => col(e._1)).toSeq ++
      extraCols.map(col)
    val stored = storedFrame(spark, root, segs).select(cols: _*)
    val live = liveDocs(spark, root, segs)(stored)
    val gated = storedEq match {
      case Some((f, v)) => live.filter(col(f) === lit(v))
      case None         => live
    }
    scoredHits(spark, nestedRootDir, terms)
      .select("doc_id", "score")
      .join(gated.filter(col("pid").isNotNull), Seq("doc_id"))
  }

  /** The live doc-id set of a family — one id-column stored read,
    * tombstone anti-joined. */
  private def liveIds(spark: SparkSession, rootDir: String)
      : DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val stored = storedFrame(spark, root, segs)
      .select("doc_id", "seg")
    liveDocs(spark, root, segs)(stored).select("doc_id").distinct()
  }

  /** `t_test` — ES's two-sample statistical agg (heteroscedastic /
    * Welch's, ES's default): are two groups' field means different?
    * The groups split on a stored partition field (ES takes two
    * filters; a field split is the common case and keeps ONE
    * aggregation pass). Moments accumulate EXACTLY (the
    * [[StatsOps.matrixStats]] DECIMAL(38,0) discipline — the oracle
    * mirrors in HUGEINT), then the statistic derives in one
    * fixed-order double pipeline:
    *
    *   t = (m₁ − m₂) / sqrt(s₁²/n₁ + s₂²/n₂)
    *
    * (sample variances; sqrt is IEEE-exact-rounded — deterministic,
    * hash-oracle surface). The p-value is NOT computed: Student's
    * CDF needs incomplete-beta libm series — ES reports p, this
    * engine reports the exact statistic and leaves the lookup to
    * the caller (stated). Output: (n_a, n_b, mean_a, mean_b,
    * t_stat), 1 row; fewer than 2 values on either side yields a
    * null t_stat (variance undefined — ES errors, a null keeps the
    * panel shape). */
  def tTestFacet(spark: SparkSession, rootDir: String,
                 terms: Seq[String], field: String,
                 groupField: String, groupA: String, groupB: String)
      : DataFrame = {
    require(groupA != groupB, "t_test needs two distinct groups")
    val dec = "decimal(38,0)"
    val rows = hitFields(spark, rootDir, terms,
      Seq(field -> "v", groupField -> "g"),
      requireNonNull = Seq("v", "g"))
      .filter(col("g").isin(groupA, groupB))
    def side(tag: String, grp: String) = Seq(
      sum(when(col("g") === grp, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(col("g") === grp, col("v").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"s1_$tag"),
      sum(when(col("g") === grp,
        (col("v") * col("v")).cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"s2_$tag"))
    val aggs = side("a", groupA) ++ side("b", groupB)
    val r = rows.agg(aggs.head, aggs.tail: _*)
    def mean(t: String): org.apache.spark.sql.Column =
      col(s"s1_$t").cast("double") / col(s"n_$t").cast("double")
    // sample variance from exact central term:
    // (n·Σx² − (Σx)²) / (n(n−1))
    def variance(t: String): org.apache.spark.sql.Column =
      (col(s"n_$t").cast(dec) * col(s"s2_$t") -
        col(s"s1_$t") * col(s"s1_$t")).cast("double") /
        (col(s"n_$t") * (col(s"n_$t") - lit(1L))).cast("double")
    r.select(
      col("n_a"), col("n_b"),
      mean("a").as("mean_a"), mean("b").as("mean_b"),
      when(col("n_a") >= 2 && col("n_b") >= 2,
        (mean("a") - mean("b")) /
          sqrt(variance("a") / col("n_a").cast("double") +
            variance("b") / col("n_b").cast("double")))
        .otherwise(lit(null).cast("double")).as("t_stat"))
  }

  /** `boxplot` — ES's five-number summary agg (whisker plots over a
    * numeric field): min, q1, median, q3, max of the live hit set's
    * values. ES computes the quartiles on TDigest (approximate); a
    * shuffle engine computes EXACT interpolated percentiles —
    * matching the oracle's `quantile_cont` — in one aggregation
    * pass. Output: (n_docs, vmin, q1, q2, q3, vmax), 1 row. */
  def boxplotFacet(spark: SparkSession, rootDir: String,
                   terms: Seq[String], field: String): DataFrame =
    hitFieldValues(spark, rootDir, terms, field)
      .agg(count(lit(1)).as("n_docs"),
        min("value").cast("double").as("vmin"),
        expr("percentile(value, 0.25D)").as("q1"),
        expr("percentile(value, 0.5D)").as("q2"),
        expr("percentile(value, 0.75D)").as("q3"),
        max("value").cast("double").as("vmax"))

  /** `string_stats` — ES's string-field profile (count, length
    * min/max/avg): one pass over the live hit set's column-pruned
    * values. The Shannon-entropy column ES appends is NOT computed
    * — it sums MANY libm log2 terms over a data-dependent character
    * distribution, so the q284 boundary-exclusion band trick cannot
    * apply and no hash-exact oracle exists; stated rather than
    * approximated quietly. avg_length is one exact-sum division
    * (ES's own arithmetic). Output: (n_docs, min_length,
    * max_length, avg_length), 1 row. */
  def stringStatsFacet(spark: SparkSession, rootDir: String,
                       terms: Seq[String], field: String): DataFrame =
    hitFieldValues(spark, rootDir, terms, field)
      .withColumn("len", length(col("value").cast("string"))
        .cast("long"))
      .agg(count(lit(1)).as("n_docs"),
        min("len").as("min_length"), max("len").as("max_length"),
        (sum("len").cast("double") / count(lit(1)).cast("double"))
          .as("avg_length"))

  /** RUNTIME FIELD + terms agg — ES's runtime mappings (a field
    * DEFINED at query time by a script over stored fields, then
    * aggregated like any mapped field): the definition is a SQL
    * expression over the requested stored columns, compiled by
    * Catalyst into the same codegen'd stage as the aggregation —
    * the schema-on-read posture without a reindex, and none of
    * painless's per-doc interpretation. One column-pruned stored
    * read. Output: (value, doc_count), (count desc, value) order,
    * top kBuckets. */
  def runtimeFieldFacet(spark: SparkSession, rootDir: String,
                        terms: Seq[String], fields: Seq[String],
                        defExpr: String, kBuckets: Int): DataFrame = {
    require(fields.nonEmpty, "runtime field needs source fields")
    hitFields(spark, rootDir, terms, fields.map(f => f -> f),
      requireNonNull = Seq.empty)
      .withColumn("value", expr(defExpr))
      .filter(col("value").isNotNull)
      .groupBy("value")
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** Reciprocal Rank Fusion — ES's `rrf` retriever (8.14+), the
    * hybrid-search combinator (BM25 ⊕ kNN ⊕ anything): each
    * retriever contributes 1/(rank_constant + rank) for every doc
    * in its top `windowSize`, ranks assigned under that retriever's
    * OWN (score desc, doc_id) order; docs outside a retriever's
    * window contribute 0 from it (ES's rule). RRF is rank-only —
    * incomparable score scales fuse without normalization, which is
    * the whole point — and the arithmetic (one divide per retriever
    * per doc, fixed retriever order) is exact doubles on the
    * hash-oracle surface.
    *
    * Scale shape: each retriever's rank window is `limit
    * windowSize` FIRST (a TakeOrderedAndProject), so the rank
    * assignment's unpartitioned window runs over windowSize-bounded
    * rows — the established bounded-frame convention — and the
    * fusion joins windowSize-sized frames on doc_id. Output:
    * (doc_id, score, n_retrievers_hit), top-k by
    * (score desc, doc_id). Inputs: (name, frame) pairs where the
    * frame carries `doc_id` and `score`. */
  def rrfFusion(spark: SparkSession,
                rankings: Seq[(String, DataFrame)],
                rankConstant: Int = 60, windowSize: Int = 100,
                k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrf needs retrievers")
    require(rankConstant >= 1,
      s"rank_constant must be >= 1: $rankConstant")
    require(windowSize >= 1, s"windowSize must be >= 1: $windowSize")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    val ranked = rankings.zipWithIndex.map { case ((_, df), i) =>
      df.select("doc_id", "score")
        .orderBy(desc("score"), asc("doc_id")).limit(windowSize)
        .withColumn(s"r_$i", row_number().over(w).cast("long"))
        .select("doc_id", s"r_$i")
    }
    val joined = ranked
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val score = rankings.indices.map { i =>
      when(col(s"r_$i").isNotNull,
        lit(1.0d) / (lit(rankConstant.toDouble) +
          col(s"r_$i").cast("double")))
        .otherwise(lit(0.0d))
    }.reduce(_ + _)
    val nHit = rankings.indices.map(i =>
      when(col(s"r_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    joined
      .withColumn("score", score)
      .withColumn("n_retrievers_hit", nHit)
      .select("doc_id", "score", "n_retrievers_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The LINEAR retriever — ES's weighted-sum hybrid (8.16+'s
    * `linear` retriever with the `minmax` normalizer): each
    * retriever's top-window scores normalize to [0, 1] within the
    * window ((s − min)/(max − min); a degenerate all-equal window
    * normalizes to 1.0 — pinned, ES leaves it undefined) and the
    * fused score is Σ weightᵢ · normᵢ, missing docs contributing 0.
    * Same windowSize-bounded rank/normalize shape as [[rrfFusion]];
    * min/max ride a broadcast single-row aggregate per retriever —
    * no second scan. All arithmetic exact-rounding deterministic
    * doubles. Output: (doc_id, score, n_retrievers_hit), top-k. */
  def linearFusion(spark: SparkSession,
                   rankings: Seq[(String, DataFrame, Double)],
                   windowSize: Int = 100, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "linear retriever needs retrievers")
    require(windowSize >= 1, s"windowSize must be >= 1: $windowSize")
    rankings.foreach { case (n, _, wt) =>
      require(wt > 0, s"retriever weight must be positive: $n=$wt") }
    val normed = rankings.zipWithIndex.map { case ((_, df, _), i) =>
      val win = df.select("doc_id", "score")
        .orderBy(desc("score"), asc("doc_id")).limit(windowSize)
      val mm = win.agg(min("score").as("mn"), max("score").as("mx"))
      win.crossJoin(broadcast(mm))
        .withColumn(s"n_$i",
          when(col("mx") === col("mn"), lit(1.0d))
            .otherwise((col("score") - col("mn")) /
              (col("mx") - col("mn"))))
        .select("doc_id", s"n_$i")
    }
    val joined = normed
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val score = rankings.zipWithIndex.map { case ((_, _, wt), i) =>
      when(col(s"n_$i").isNotNull, lit(wt) * col(s"n_$i"))
        .otherwise(lit(0.0d))
    }.reduce(_ + _)
    val nHit = rankings.indices.map(i =>
      when(col(s"n_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    joined
      .withColumn("score", score)
      .withColumn("n_retrievers_hit", nHit)
      .select("doc_id", "score", "n_retrievers_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Plain `sampler` aggregation — ES's scoped sampling (run the
    * expensive sub-agg over a bounded sample of the hit set): the
    * first `shardSize` live hit docs enter the sample and the terms
    * sub-agg runs over them. Selection PINNED to doc_id order
    * ([[diversifiedSamplerFacet]]'s stated determinism posture; ES
    * samples best-scoring per shard). The sample is a
    * TakeOrderedAndProject — never a full sort. Output: (value,
    * doc_count), (count desc, value) order, top kBuckets. */
  def samplerFacet(spark: SparkSession, rootDir: String,
                   terms: Seq[String], shardSize: Int,
                   aggField: String, kBuckets: Int): DataFrame = {
    require(shardSize >= 1, s"shard_size must be >= 1: $shardSize")
    hitFieldValues(spark, rootDir, terms, aggField)
      .orderBy(asc("doc_id")).limit(shardSize)
      .groupBy("value")
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** `random_sampler` — ES 8.2's probability-sampling agg (run the
    * sub-aggs over a p-fraction of the docs, scale the estimates by
    * 1/p — THE knob for interactive aggregations over 100 TB), with
    * the sampling DETERMINISTIC by contract: a doc is in the sample
    * iff knuth(doc_id, seed) < ⌊p·2³¹⌋ — the same seeded Knuth
    * multiplicative hash [[randomScoreSearch]] pins (uniform over
    * [0, 2³¹), overflow-proof there), so the sample is reproducible
    * across runs and engines where ES's is per-shard random. The
    * inclusion test is one codegen'd integer compare inside the scan
    * — at scale the sampled fraction is the only data that reaches
    * the aggregation. Use dyadic probabilities (1/2, 1/4, …) for an
    * exact threshold (stated; ⌊p·2³¹⌋ is exact there). Output, one
    * row: (n_sampled, doc_count_estimate = n/p — one double divide,
    * vmin, vmax, vsum over the sampled stat field). */
  def randomSamplerFacet(spark: SparkSession, rootDir: String,
                         terms: Seq[String], statField: String,
                         probability: Double, seed: Long)
      : DataFrame = {
    val m = 2147483648L
    require(probability > 0.0 && probability <= 1.0,
      s"probability must be in (0, 1]: $probability")
    require(seed >= 0 && seed < m, s"seed must be in [0, 2^31): $seed")
    val threshold = (probability * m.toDouble).toLong
    require(threshold >= 1, s"probability too small: $probability")
    hitFieldValues(spark, rootDir, terms, statField)
      .filter(pmod(pmod(col("doc_id"), lit(m)) * lit(2654435761L) +
        lit(seed), lit(m)) < lit(threshold))
      .agg(count(lit(1)).as("n_sampled"),
        min("value").as("vmin"), max("value").as("vmax"),
        sum("value").as("vsum"))
      .withColumn("doc_count_estimate",
        col("n_sampled").cast("double") / lit(probability))
      .select("n_sampled", "doc_count_estimate", "vmin", "vmax",
        "vsum")
  }

  /** `categorize_text` — ES's log-categorization agg (group similar
    * messages into templates: "Connection to * failed after * ms"),
    * with the algorithm PINNED DETERMINISTIC where ES's is a
    * streaming order-dependent clusterer (its docs warn the buckets
    * depend on shard order): messages group by (token count, first
    * token) — the drain-style anchor — and within a group each token
    * POSITION keeps its token when the whole group agrees on it,
    * else generalizes to `*`. Tokens are the index CHAIN's emitted
    * sequence (analyzer-aware — an english index categorizes stemmed
    * messages); docs analyzing to nothing drop (stated). The plan is
    * one stored text read → token explode → two aggregations
    * (per-slot agreement, per-group fold); the per-slot frame is
    * (groups · positions)-sized, never corpus². Output: (category,
    * doc_count), top-k by (doc_count desc, category). */
  def categorizeTextFacet(spark: SparkSession, rootDir: String,
                          terms: Seq[String], k: Int): DataFrame = {
    val an = readAnalyzer(new java.io.File(rootDir))
    val base = hitFieldValues(spark, rootDir, terms, "text")
      .select(col("doc_id"),
        transform(Analyzer.posTerms(an, "value"),
          x => x.getField("term")).as("tk"))
      .filter(size(col("tk")) > 0)
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("f", element_at(col("tk"), 1))
    // per-slot agreement AND the group's doc count in the SAME
    // aggregation chain (r18 optimization): every doc contributes
    // exactly one exploded row at position 0 (docs analyzing to
    // nothing are already filtered), so the group's doc_count is the
    // position-0 slot's row count — the second full pass over `base`
    // (stored read + tokenize) the old shape paid just to count docs
    // is gone
    val slots = base
      .select(col("n"), col("f"),
        posexplode(col("tk")).as(Seq("pos", "tok")))
      .groupBy("n", "f", "pos")
      .agg(countDistinct(col("tok")).as("ndist"),
        min("tok").as("one"), count(lit(1)).as("nrows"))
      .withColumn("ttok",
        when(col("ndist") === 1L, col("one")).otherwise(lit("*")))
    slots
      .groupBy("n", "f")
      .agg(concat_ws(" ",
        transform(
          array_sort(collect_list(struct(col("pos"), col("ttok")))),
          x => x.getField("ttok"))).as("category"),
        max(when(col("pos") === 0, col("nrows"))).as("doc_count"))
      .select("category", "doc_count")
      .orderBy(desc("doc_count"), asc("category"))
      .limit(k)
  }

  /** Terms LOOKUP — ES's `terms` query with a lookup clause
    * (`terms: { field, index, id, path }`): the filter values come
    * from ANOTHER document's field at query time (the "my followees'
    * posts" pattern). The lookup is a GET by id ([[fetch]]'s
    * id-pushed stored read) whose value(s) collect driver-side —
    * bounded by ONE document's field, exactly the ES coordinator
    * behavior — and become an ordinary stored-field filter over the
    * live corpus. A missing or tombstoned lookup doc yields zero
    * terms and zero hits (ES's rule). Filter context: no scores;
    * the matched value returns as evidence. Output: (doc_id,
    * value), id-ascending, first k (the lookup doc itself included
    * when it matches — ES does not self-exclude here, MLT does). */
  def termsLookupSearch(spark: SparkSession, rootDir: String,
                        lookupId: Long, lookupField: String,
                        targetField: String, k: Int): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val live = liveStored(spark, root, segs)
    val lookup = live
      .filter(col("doc_id") === lit(lookupId))
      .select(col(lookupField)).limit(1).collect()
    if (lookup.isEmpty || lookup.head.isNullAt(0))
      return Seq.empty[(Long, String)].toDF("doc_id", "value")
    val v = lookup.head.get(0)
    live
      .filter(col(targetField) === lit(v))
      .select(col("doc_id"), col(targetField).cast("string")
        .as("value"))
      .orderBy("doc_id").limit(k)
  }

  /** `rank_feature` with the SATURATION function — ES's static-
    * relevance query (pagerank, recency, popularity fields):
    * score = query score + boost · v/(v + pivot), the saturation
    * kernel specifically because it is ONE divide of exact doubles —
    * deterministic on the hash-oracle surface (ES's `log`/`sigmoid`
    * variants go through libm and would need the q284 band
    * treatment). Docs missing the feature get no bonus (ES skips
    * them — the rank_feature clause simply doesn't match). Output:
    * (doc_id, score, saturation), top-k by (score desc, doc_id). */
  def rankFeatureSearch(spark: SparkSession, rootDir: String,
                        terms: Seq[String], field: String,
                        pivot: Double, boost: Double, k: Int)
      : DataFrame = {
    require(pivot > 0, s"pivot must be positive: $pivot")
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass)
    val vals = liveStoredValues(spark, rootDir, field)
    scored.join(vals, Seq("doc_id"), "left")
      .withColumn("saturation",
        when(col("value").isNull, lit(0.0d))
          .otherwise(col("value").cast("double") /
            (col("value").cast("double") + lit(pivot))))
      .withColumn("score",
        col("score") + lit(boost) * col("saturation"))
      .select("doc_id", "score", "saturation")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `script_score` — ES's compute-the-score-yourself query: the
    * caller's expression replaces the relevance score, seeing the
    * query score as `_score` and any requested stored fields by
    * name (painless's `doc['f'].value`; here a SQL expression
    * COMPILED BY CATALYST — codegen'd, not interpreted per doc).
    * Deterministic-arithmetic scripts stay on the hash-oracle
    * surface; a script reaching for libm owns the q284 band
    * treatment — the caller's contract, stated. Missing fields read
    * null (script's responsibility, like painless). One postings
    * pass + one column-pruned stored read. Output: (doc_id, score),
    * top-k by (score desc, doc_id). */
  def scriptScoreSearch(spark: SparkSession, rootDir: String,
                        terms: Seq[String], fields: Seq[String],
                        script: String, k: Int): DataFrame = {
    val scored = scoredHits(spark, rootDir, terms)
      .withColumnRenamed("score", "_score")
    val base = if (fields.isEmpty) scored
    else {
      // attach-only read (r18 — no second postings pass)
      val root = new java.io.File(rootDir)
      val (_, segs, _) = readManifest(root)
      val vals = liveStoredFields(spark, root, segs,
        fields.map(f => f -> f))
      scored.join(vals, Seq("doc_id"), "left")
    }
    base
      .withColumn("score", expr(script))
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `diversified_sampler` + terms sub-agg — ES's anti-dominance
    * sampler (one over-represented author/source must not own the
    * aggregation): at most `maxDocsPerValue` hit docs per
    * `dedupField` value enter the sample, the sub-agg runs over the
    * sample only. Selection is PINNED to doc_id order per value
    * (deterministic everywhere; ES's own pick is shard-local
    * best-score — a heuristic this engine replaces with a stated
    * total order). The rank is a per-value bounded window — k per
    * value, never a global sort. Output: (value, doc_count) of the
    * sub-agg over the sample, (count desc, value) order, top
    * kBuckets. */
  def diversifiedSamplerFacet(spark: SparkSession, rootDir: String,
                              terms: Seq[String], dedupField: String,
                              maxDocsPerValue: Int, aggField: String,
                              kBuckets: Int): DataFrame = {
    require(maxDocsPerValue >= 1,
      s"max_docs_per_value must be >= 1: $maxDocsPerValue")
    val rows = hitFields(spark, rootDir, terms,
      Seq(dedupField -> "dv", aggField -> "value"),
      requireNonNull = Seq("dv", "value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dv").orderBy(asc("doc_id"))
    rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lit(maxDocsPerValue))
      .groupBy("value")
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), asc("value"))
      .limit(kBuckets)
  }

  /** `cumulative_cardinality` — ES's "new distinct values over
    * time" pipeline agg (x-pack): per histogram bucket, the
    * cardinality of `valueField` accumulated from the first bucket
    * (how many DISTINCT users have we ever seen by day d). ES feeds
    * approximate per-bucket HLL sketches through the pipeline; this
    * engine computes it EXACTLY from each value's FIRST bucket (a
    * value contributes to the cumulative count from min(bucket) on)
    * — one aggregation for the buckets, one for the first-bucket
    * frame, one bucket-bounded cumulative window (the established
    * bounded-frame window convention). Output: (bucket, doc_count,
    * cum_cardinality), bucket-ascending. */
  def cumulativeCardinalityFacet(spark: SparkSession, rootDir: String,
                                 terms: Seq[String],
                                 bucketField: String, interval: Long,
                                 valueField: String): DataFrame = {
    require(interval > 0, s"interval must be positive: $interval")
    val rows = hitFields(spark, rootDir, terms,
      Seq(bucketField -> "bval", valueField -> "value"),
      requireNonNull = Seq("bval", "value"))
      .withColumn("bucket",
        (floor(col("bval") / lit(interval)) * lit(interval))
          .cast("long"))
    val counts = rows.groupBy("bucket")
      .agg(count(lit(1)).as("doc_count"))
    val news = rows.groupBy("value")
      .agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(asc("bucket")).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    counts.join(news, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("cum_cardinality", sum("n_new").over(wCum))
      .select("bucket", "doc_count", "cum_cardinality")
      .orderBy("bucket")
  }

  /** `median_absolute_deviation` — ES's robust-dispersion agg:
    * MAD = median(|v − median(v)|) over the live hit set's field
    * values. ES computes both medians on TDigest sketches
    * (approximate); a shuffle engine computes them EXACTLY — the
    * inner median collects as ONE driver-side double (the
    * single-row bounds posture) and re-enters the plan as a
    * literal, interpolated percentiles matching the oracle's
    * quantile_cont. Output: (n_docs, vmedian, mad), 1 row. */
  def madFacet(spark: SparkSession, rootDir: String,
               terms: Seq[String], field: String): DataFrame = {
    import spark.implicits._
    val vals = hitFieldValues(spark, rootDir, terms, field)
    val m = vals
      .agg(expr("percentile(value, 0.5D)").as("m"))
      .collect().head
    // no qualifying values: ES reports the agg with a null MAD
    if (m.isNullAt(0))
      return Seq((0L, Option.empty[Double], Option.empty[Double]))
        .toDF("n_docs", "vmedian", "mad")
    val med = m.getDouble(0)
    vals
      .agg(count(lit(1)).as("n_docs"),
        lit(med).as("vmedian"),
        expr(s"percentile(abs(value - ${med}D), 0.5D)").as("mad"))
  }

  /** Multi-match query — ES's `multi_match`, the single most-used
    * query in real ES front ends (one text box, N fields): the SAME
    * query string runs against several analyzed FIELDS of one
    * logical index and the per-field scores combine per document.
    *
    * Field model: Lucene's per-field postings are independent
    * inverted indexes that happen to share a doc-id space — this
    * engine materializes each analyzed field as its own segment
    * family (`fields` maps field name → that family's root), which
    * is the same structure with the field dimension lifted into the
    * directory layout. Statistics are PER FIELD (ES/Lucene score
    * each field with its own df and doc count — a term common in
    * `title` but rare in `body` is rare where it matters), and the
    * query analyzes per field with that field's own chain (ES's
    * per-field analyzer rule; a `keyword`-ish field and a stemmed
    * field see different token streams of the same input).
    *
    * Types implemented (ES's two everyday modes):
    *  - `best_fields` (ES's default): fields COMPETE —
    *    score = best + tieBreaker·(Σ − best), the [[disMaxSearch]]
    *    combinator applied across fields (ES implements best_fields
    *    as exactly that dis_max);
    *  - `most_fields`: fields PILE UP — score = Σ (ES compiles it
    *    to a bool/should across the per-field queries).
    * `cross_fields` is NOT implemented: it BLENDS df across fields
    * inside the term weight (a different scoring formula, not a
    * different combinator) — stated loudly rather than approximated
    * with per-field stats.
    *
    * Cost shape: one bucket-pruned postings read per field (each
    * over its own family), met in O(fields) full-outer joins on
    * doc_id; no corpus scan, no cross-field shuffle beyond the id
    * join. Output: (doc_id, score, n_fields_hit), top-k by
    * (score desc, doc_id). */
  def multiMatchSearch(spark: SparkSession,
                       fields: Seq[(String, String)],
                       terms: Seq[String], matchType: String,
                       tieBreaker: Double, k: Int): DataFrame = {
    require(fields.nonEmpty, "multiMatch needs fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate fields")
    require(Set("best_fields", "most_fields", "cross_fields")
      (matchType),
      s"unsupported multi_match type: $matchType " +
        "(best_fields | most_fields | cross_fields)")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1]: $tieBreaker")
    if (matchType == "cross_fields")
      return crossFieldsSearch(spark, fields, terms, k)
    val frames = fields.zipWithIndex.map { case ((_, root), i) =>
      // scoredHits analyzes `terms` with THIS field's chain and
      // scores with THIS field's df/N — the per-field statistics
      // contract above
      scoredHits(spark, root, terms)
        .select(col("doc_id"), col("score").as(s"s_$i"))
    }
    val joined = frames
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val hitFlags = fields.indices
      .map(i => when(col(s"s_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
    val scores = fields.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0d)))
    val total = scores.reduce(_ + _)
    val combined = matchType match {
      case "most_fields" => total
      case _ =>
        val best =
          if (scores.size == 1) scores.head else greatest(scores: _*)
        best + lit(tieBreaker) * (total - best)
    }
    joined
      .withColumn("score", combined)
      .withColumn("n_fields_hit", hitFlags.reduce(_ + _))
      .select("doc_id", "score", "n_fields_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `multi_match` type `cross_fields` — ES's TERM-CENTRIC blending
    * (the "first_name/last_name" query where a term may live in
    * either field), implemented with Lucene's BlendedTermQuery
    * convention PINNED: the query analyzes ONCE (the field group
    * must share one analyzer — `require`d, ES's own cross_fields
    * precondition), and per term the fields' document frequencies
    * BLEND to their MAXIMUM (Lucene's blend rule — the common term
    * stays common no matter which field it's rare in, killing the
    * rare-field idf spike that makes best_fields wrong for names);
    * each doc then scores Σ_t max_f(tf_f(t)) · (N / df_blend(t)) —
    * per term the best field's tf under the blended weight (the
    * per-term dis_max), summed over terms in fixed order
    * (deterministic doubles). Terms absent from every field drop.
    * The per-(field, term) dfs are a BOUNDED driver collect
    * (|fields|·|terms| scalars, stated); each field contributes one
    * pruned postings read. Families must share one doc space
    * (nDocs-equality `require`, the [[combinedFieldsSearch]]
    * precondition). Output: (doc_id, score, n_fields_hit), top-k by
    * (score desc, doc_id). */
  private def crossFieldsSearch(spark: SparkSession,
      fields: Seq[(String, String)], terms: Seq[String], k: Int)
      : DataFrame = {
    import spark.implicits._
    requireUniformAnalyzer(fields)
    val qs = qTerms(new java.io.File(fields.head._2), terms)
    if (qs.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_fields_hit")
    case class Fam(live: DataFrame, dfs: Map[String, Long],
                   nDocs: Long)
    val fams = fields.map { case (_, rootDir) =>
      val root = new java.io.File(rootDir)
      val (nb, segs, _) = readManifest(root)
      val p = prunedPostings(spark, root, segs, qs, nb)
      // df pre-tombstone (the standing Lucene stats convention);
      // BOUNDED collect: one row per (field, term)
      val dfs = p.groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val live = liveDocs(spark, root, segs)(p)
      Fam(live, dfs, segs.filter(_.kind == "seg").map(_.nDocs).sum)
    }
    require(fams.map(_.nDocs).distinct.size == 1,
      "cross_fields families must share one doc space: " +
        fams.map(_.nDocs).mkString(", "))
    val nDocs = fams.head.nDocs
    val blend: Map[String, Long] = qs.map(t =>
      t -> fams.map(_.dfs.getOrElse(t, 0L)).max).toMap
    val alive = qs.filter(blend(_) > 0L)
    if (alive.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_fields_hit")
    // per field: one per-doc tf column per term (fixed pivot order)
    val frames = fams.zipWithIndex.map { case (fam, i) =>
      val aggs = alive.map(t =>
        sum(when(col("term") === lit(t), col("tf"))
          .otherwise(lit(0L))).as(s"tf_${i}_${alive.indexOf(t)}"))
      fam.live.filter(col("term").isin(alive: _*))
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
    }
    val joined = frames
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    def tfOf(i: Int, ti: Int) =
      coalesce(col(s"tf_${i}_$ti"), lit(0L))
    val perTerm = alive.zipWithIndex.map { case (t, ti) =>
      val tfs = fields.indices.map(i => tfOf(i, ti))
      val best = if (tfs.size == 1) tfs.head else greatest(tfs: _*)
      best.cast("double") *
        (lit(nDocs).cast("double") / lit(blend(t)).cast("double"))
    }
    val score = perTerm.reduce(_ + _)
    val fieldHit = fields.indices.map { i =>
      val any = alive.indices.map(ti => tfOf(i, ti) > lit(0L))
        .reduce(_ || _)
      when(any, lit(1L)).otherwise(lit(0L))
    }
    joined
      .withColumn("score", score)
      .withColumn("n_fields_hit", fieldHit.reduce(_ + _))
      .select("doc_id", "score", "n_fields_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The dis_max fold shared by the multi_match family: per-field
    * score frames (doc_id, s_i) meet in full-outer joins; combined =
    * best + tieBreaker·(total − best) (tieBreaker 1.0 degenerates to
    * the most_fields sum); n_fields_hit counts matching fields. */
  private def disMaxCombine(frames: Seq[DataFrame],
      tieBreaker: Double, k: Int): DataFrame = {
    val joined = frames
      .reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val hitFlags = frames.indices
      .map(i => when(col(s"s_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
    val scores = frames.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0d)))
    val total = scores.reduce(_ + _)
    val best =
      if (scores.size == 1) scores.head else greatest(scores: _*)
    joined
      .withColumn("score", best + lit(tieBreaker) * (total - best))
      .withColumn("n_fields_hit", hitFlags.reduce(_ + _))
      .select("doc_id", "score", "n_fields_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `multi_match` type `phrase` / `phrase_prefix` — ES's per-field
    * phrase tier (the [[multiMatchSearch]] compositions r16 left
    * out): the words run as a `match_phrase` ([[phraseSearch]]) or
    * `match_phrase_prefix` ([[phrasePrefixSearch]], last word the
    * prefix) PER FIELD — each field analyzing with its own chain and
    * expanding against its own dictionary — and the per-field scores
    * fold through dis_max (ES's combinator for both types).
    *
    * SCORING CONVENTION, pinned: the phrase is a PSEUDO-TERM —
    * per field, score = n_occurrences · (N_f / df_phrase_f), where
    * n_occurrences is the doc's exact phrase count (Lucene's phrase
    * freq) and df_phrase_f counts the field's LIVE matching docs —
    * EXACT phrase statistics where Lucene estimates them from term
    * stats (the same exact-where-ES-approximates stance as
    * [[combinedFieldsSearch]]'s df). The df is one count aggregated
    * from the phrase frame itself and broadcast back (a single-row
    * frame — the [[linearFusion]] shape), so the plan stays one
    * anchor-count pass per field. Output: (doc_id, score,
    * n_fields_hit), top-k by (score desc, doc_id). */
  def multiMatchPhraseSearch(spark: SparkSession,
                             fields: Seq[(String, String)],
                             words: Seq[String], matchType: String,
                             tieBreaker: Double, k: Int): DataFrame = {
    require(fields.nonEmpty, "multiMatchPhrase needs fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate fields")
    require(Set("phrase", "phrase_prefix")(matchType),
      s"unsupported type: $matchType (phrase | phrase_prefix)")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1]: $tieBreaker")
    require(words.size >= 2,
      "multi_match phrase needs at least two words " +
        "(a one-word phrase is a term / prefix query)")
    val frames = fields.zipWithIndex.map { case ((_, rootDir), i) =>
      val (_, segs, _) = readManifest(new java.io.File(rootDir))
      val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
      val ph = matchType match {
        case "phrase" => phraseSearch(spark, rootDir, words)
        case _ => phrasePrefixSearch(spark, rootDir,
          words.init, words.last)
      }
      val dfRow = ph.agg(count(lit(1)).as("dfp"))
      ph.crossJoin(broadcast(dfRow))
        .select(col("doc_id"),
          (col("n_occurrences").cast("double") *
            (lit(nDocs).cast("double") / col("dfp").cast("double")))
            .as(s"s_$i"))
    }
    disMaxCombine(frames, tieBreaker, k)
  }

  /** `match` with `fuzziness` — ES's typo-tolerant match (the other
    * r16-noted composition): each query term expands against the
    * TERM DICTIONARY through the same SymSpell deletion-variant
    * blocking as [[fuzzySearch]] (Lucene-AUTO allowance: two edits
    * only for query terms of length ≥ 6), capped at
    * [[QueryString.MaxLeafExpansions]] expansions PER QUERY TERM in
    * deterministic (dist asc, df desc, term asc) order — ES's
    * `max_expansions` contract, so the driver collect and the pivot
    * width stay bounded on any vocabulary. Then every live doc sums
    * tf·(N/df) over its matched (query-term, expansion) PAIRS — a
    * term reached by two query terms contributes once per pair,
    * ES's per-clause sum. No distance damping (the [[fuzzySearch]]
    * convention, stated: Lucene's fuzzy boost is 1 − d/len, this
    * engine keeps expansion scores exact and undamped).
    * Contributions fold as FIXED-ORDER pivoted sums over the sorted
    * pair list (the scoreLive discipline — deterministic doubles);
    * `n_terms_hit` counts query terms with ≥ 1 matched expansion.
    * Output: (doc_id, score, n_terms_hit), top-k. */
  def matchFuzzySearch(spark: SparkSession, rootDir: String,
                       terms: Seq[String], maxDist: Int,
                       k: Int): DataFrame =
    matchFuzzyHits(spark, rootDir, terms, maxDist)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** `multi_match` with `fuzziness`: [[matchFuzzySearch]] per field
    * (each field's own chain, dictionary and statistics), dis_max on
    * top. Output: (doc_id, score, n_fields_hit), top-k. */
  def multiMatchFuzzySearch(spark: SparkSession,
                            fields: Seq[(String, String)],
                            terms: Seq[String], maxDist: Int,
                            tieBreaker: Double, k: Int): DataFrame = {
    require(fields.nonEmpty, "multiMatchFuzzy needs fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate fields")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1]: $tieBreaker")
    val frames = fields.zipWithIndex.map { case ((_, rootDir), i) =>
      matchFuzzyHits(spark, rootDir, terms, maxDist)
        .select(col("doc_id"), col("score").as(s"s_$i"))
    }
    disMaxCombine(frames, tieBreaker, k)
  }

  /** [[matchFuzzySearch]]'s unranked frame: (doc_id, score,
    * n_terms_hit) for every matching live doc. */
  private def matchFuzzyHits(spark: SparkSession, rootDir: String,
      terms: Seq[String], maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"maxDist must be 1 or 2: $maxDist")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val an0 = readAnalyzer(root)
    val qn = terms.map(Analyzer.normalize(an0, _)).distinct
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val vocab = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("df"))
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
    def variants(s: String): Seq[String] =
      if (maxDist == 2 && s.length >= 6)
        (del1(s) ++ del1(s).flatMap(del1)).distinct
      else del1(s)
    val qv = qn.flatMap(t => variants(t).map(v => (t, v))).distinct
      .toDF("q_term", "v")
    // BOUNDED collect (ES's max_expansions=50 posture, the same cap
    // QueryString's fuzzy leaf uses): expansions rank per QUERY TERM
    // in deterministic (dist asc, df desc, term asc) order — the
    // closest, most-frequent neighbors survive — and at most
    // MaxLeafExpansions per query term reach the driver, so a short
    // term in a dense vocabulary can never grow an unbounded pivot
    // list or collect
    val xw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_term")
      .orderBy(asc("dist"), desc("df"), asc("term"))
    val pairs = vocab
      .withColumn("v", explode(expr(Fuzzy.delAutoExpr("term", maxDist))))
      .join(broadcast(qv), "v")
      .withColumn("dist", levenshtein(col("term"), col("q_term")))
      .filter(col("dist") <=
        when(length(col("q_term")) >= 6, lit(maxDist)).otherwise(lit(1)))
      .select("q_term", "term", "dist", "df").distinct()
      .withColumn("xr", row_number().over(xw))
      .filter(col("xr") <= QueryString.MaxLeafExpansions)
      .select("q_term", "term")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted
    if (pairs.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    val matched = pairs.map(_._2).distinct
    val p = prunedPostings(spark, root, segs, matched, nb)
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    val contribs = pairs.zipWithIndex.map { case ((_, t), i) =>
      sum(when(col("term") === lit(t),
        col("tf").cast("double") *
          (lit(nDocs).cast("double") / col("doc_freq").cast("double")))
        .otherwise(lit(0.0d))).as(s"c_$i")
    }
    val score = pairs.indices.map(i => col(s"c_$i")).reduce(_ + _)
    // one flag per QUERY term: any of its pairs matched
    val byQ = pairs.zipWithIndex.groupBy(_._1._1)
    val nHit = qn.flatMap(q => byQ.get(q).map { ps =>
        val anyHit = ps.map { case (_, i) => col(s"c_$i") > lit(0.0d) }
          .reduce(_ || _)
        when(anyHit, lit(1L)).otherwise(lit(0L))
      }).reduceOption(_ + _).getOrElse(lit(0L))
    live.join(dfreq, "term")
      .groupBy("doc_id")
      .agg(contribs.head, contribs.tail: _*)
      .withColumn("score", score)
      .withColumn("n_terms_hit", nHit)
      .select("doc_id", "score", "n_terms_hit")
  }

  /** Span-first query — Lucene/ES's `span_first` ("the term within
    * the first N positions" — title-ish matching without a separate
    * title field): live docs whose term occurs at an analyzed
    * position strictly below `end`, with that first occurrence
    * reported. The position test is `array_min` over the inline
    * positions array — inside the pruned postings scan, no explode.
    * Output: (doc_id, first_pos), doc_id-ascending, first k. */
  def spanFirstSearch(spark: SparkSession, rootDir: String,
                      term: String, end: Long, k: Int): DataFrame = {
    require(end >= 1, s"end must be >= 1: $end")
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, Seq(term))
    require(qs.size == 1,
      "span_first needs a single-term query")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, qs, nb)
      .filter(col("term") === lit(qs.head))
    val live = liveDocs(spark, root, segs)(p)
    live
      .withColumn("first_pos", array_min(col("positions")))
      .filter(col("first_pos") < lit(end))
      .select("doc_id", "first_pos")
      .orderBy("doc_id").limit(k)
  }

  /** span_near over two span_or clauses — Lucene/ES's proximity
    * span tier (`span_near { clauses: [span_or, span_or], slop,
    * in_order }`), the "these concepts appear close together" query
    * relevance engineers reach for when `match_phrase`'s adjacency
    * is too strict: a doc matches when SOME occurrence of any
    * `first` term and some occurrence of any `second` term sit
    * within `slop` intervening positions (`in_order` demands the
    * first before the second — ES's gap arithmetic: adjacent is
    * gap 0; unordered uses the absolute gap and rejects the
    * same-position degenerate pair).
    *
    * Plan shape: the two sides' positions come from the SAME
    * bucket-pruned positional postings read (one scan of the union's
    * lists), explode per occurrence, and meet in a doc-local join —
    * the pair set is per-doc occurrence-bounded, never corpus-wide.
    * Output: (doc_id, n_spans, min_gap) — n_spans counts matching
    * occurrence PAIRS (a span_or side with two terms at distinct
    * positions yields distinct pairs, each counted; Lucene's span
    * enumeration does the same before its payload dedup), id-ordered
    * top-k. */
  def spanNearSearch(spark: SparkSession, rootDir: String,
                     first: Seq[String], second: Seq[String],
                     slop: Int, inOrder: Boolean = true,
                     k: Int = 10): DataFrame = {
    require(slop >= 0, s"slop must be >= 0: $slop")
    val root = new java.io.File(rootDir)
    val fq = qTerms(root, first)
    val sq = qTerms(root, second)
    require(fq.nonEmpty && sq.nonEmpty,
      "span_near needs a surviving term on each side")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, (fq ++ sq).distinct, nb)
    val live = liveDocs(spark, root, segs)(p)
    def side(ts: Seq[String], as: String) =
      live.filter(col("term").isin(ts: _*))
        .select(col("doc_id"),
          explode(col("positions")).as(as))
    val pairs = side(fq, "pa").join(side(sq, "pb"), Seq("doc_id"))
    val gapped =
      if (inOrder)
        pairs.withColumn("gap", col("pb") - col("pa") - lit(1L))
          .filter(col("gap") >= 0L)
      else
        pairs.withColumn("gap",
          abs(col("pb") - col("pa")) - lit(1L))
          .filter(col("gap") >= 0L)
    gapped.filter(col("gap") <= lit(slop.toLong))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), min("gap").as("min_gap"))
      .orderBy("doc_id").limit(k)
  }

  /** span_not — the last member of the span family (with
    * [[spanFirstSearch]] and [[spanNearSearch]]): occurrences of any
    * `include` term that are NOT within `pre` positions after / `post`
    * positions before an `exclude` term occurrence ("java but not
    * preceded by coffee-adjacent words"). ES's pre/post window
    * arithmetic on single-term spans: an include position p is killed
    * by an exclude position e when p − pre ≤ e ≤ p + post; the doc
    * matches while at least one include occurrence survives. The kill
    * check is a doc-local band join off the same pruned positional
    * read; survivors aggregate per doc. Output: (doc_id, n_spans,
    * first_pos) — surviving-occurrence count and the earliest
    * surviving position — id-ordered top-k. */
  def spanNotSearch(spark: SparkSession, rootDir: String,
                    include: Seq[String], exclude: Seq[String],
                    pre: Int = 0, post: Int = 0, k: Int = 10)
      : DataFrame = {
    require(pre >= 0 && post >= 0, s"pre/post must be >= 0: $pre/$post")
    val root = new java.io.File(rootDir)
    val iq = qTerms(root, include)
    val eq = qTerms(root, exclude)
    require(iq.nonEmpty && eq.nonEmpty,
      "span_not needs surviving include and exclude terms")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, (iq ++ eq).distinct, nb)
    val live = liveDocs(spark, root, segs)(p)
    def side(ts: Seq[String], as: String) =
      live.filter(col("term").isin(ts: _*))
        .select(col("doc_id"), explode(col("positions")).as(as))
    val inc = side(iq, "p")
    val exc = side(eq, "e")
    val killed = inc.join(exc,
        inc("doc_id") === exc("doc_id") &&
          exc("e") >= inc("p") - lit(pre.toLong) &&
          exc("e") <= inc("p") + lit(post.toLong))
      .select(inc("doc_id"), inc("p")).distinct()
    inc.join(killed, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), min("p").as("first_pos"))
      .orderBy("doc_id").limit(k)
  }

  /** ORDERED intervals query — ES's `intervals` with
    * `match { ordered: true, max_gaps }` (the modern span
    * replacement, the query relevance engineers write proximity
    * rules in today): the terms must appear IN ORDER with at most
    * `maxGaps` other tokens interleaved across the whole chain
    * (ES's max_gaps counts the total gap budget of the interval,
    * not per-adjacency — "spark … join … vector" with the
    * in-between sums bounded). The flat-chain convenience form of
    * [[intervalsQuery]] — same doc-local counting engine, same
    * output contract. Output: (doc_id, n_intervals, min_span) —
    * qualifying chain count and the tightest chain's token span —
    * id-ordered top-k. */
  def intervalsSearch(spark: SparkSession, rootDir: String,
                      terms: Seq[String], maxGaps: Int,
                      k: Int = 10): DataFrame = {
    require(terms.size >= 2, "intervals needs at least two terms")
    require(maxGaps >= 0, s"max_gaps must be >= 0: $maxGaps")
    intervalsQuery(spark, rootDir,
      IMatch(terms, maxGaps, ordered = true), k)
  }

  /** The `intervals` source tree — ES's intervals COMBINATORS, the
    * nesting that makes intervals the span replacement: `match`
    * (ordered term chain under a total gap budget — [[
    * intervalsSearch]]'s rule; `maxGaps < 0` = unlimited, ES's
    * default), `any_of` (union of the kids' intervals), `all_of`
    * (ordered non-overlapping sequence of the kids' intervals, the
    * COMBINED interval's own gap budget counting every position
    * covered by no kid), and the multi-term sources `prefix` /
    * `wildcard` (single-position intervals of every dictionary term
    * matching the pattern). */
  sealed trait IntervalsNode
  /** `ordered: false` is ES's intervals-match DEFAULT (any term
    * order, the minimal window containing one occurrence of each
    * term) — terms must analyze DISTINCT (`require`d; Lucene's
    * duplicate-term unordered semantics need occurrence-disjointness
    * bookkeeping this engine states out). `ordered: true` is the
    * q280 chain. */
  case class IMatch(terms: Seq[String], maxGaps: Int = -1,
                    ordered: Boolean = true)
    extends IntervalsNode
  case class IAnyOf(kids: Seq[IntervalsNode]) extends IntervalsNode
  /** `ordered: false` is ES's all_of DEFAULT (kid intervals in any
    * order); this API defaults to `true` for source compatibility
    * with the pre-round-18 entries — callers porting an ES request
    * that omits `ordered` should pass `ordered = false` explicitly.
    * Convention, pinned: kid intervals are pairwise NON-overlapping
    * in BOTH modes (Lucene's unordered intervals may overlap; this
    * engine's combination counting keeps the no-overlap rule of the
    * ordered chain, stated). Unordered kid count capped at 6 (the
    * permutation-sum evaluation is k!·DP, doc-local). */
  case class IAllOf(kids: Seq[IntervalsNode], maxGaps: Int = -1,
                    ordered: Boolean = true)
    extends IntervalsNode
  /** ES's intervals `prefix` source: one (p, p) interval per
    * occurrence of ANY dictionary term starting with the prefix —
    * the dictionary walk shared with [[prefixSearch]], expansion
    * capped at [[QueryString.MaxLeafExpansions]] in term order (ES's
    * own expansion posture). */
  case class IPrefix(prefix: String) extends IntervalsNode
  /** ES's intervals `wildcard` source: [[IPrefix]] through the
    * shared [[wildcardRegex]] automaton (`*`/`?`, anchored). */
  case class IWildcard(pattern: String) extends IntervalsNode
  /** ES's intervals `filter` rule: keep `src` intervals by their
    * POSITIONAL relation to `by` intervals of the same doc —
    * `containing`/`contained_by`/`overlapping` (+ their `not_`
    * negations), `before` (src ends before some `by` starts) and
    * `after` (src starts after some `by` ends) — ES's filter set
    * sans `script` (stated out with the runtime-fields posture). */
  case class IFiltered(src: IntervalsNode, rule: String,
                       by: IntervalsNode) extends IntervalsNode

  /** Evaluate an [[IntervalsNode]] tree — ES's
    * `intervals: { all_of / any_of / match / prefix / wildcard }`
    * query with nesting and filter rules.
    *
    * The tree compiles to an [[graft.functions.IntervalTree]] spec
    * and evaluates DOC-LOCALLY: one bucket-pruned positional read of
    * the tree's whole vocabulary, one groupBy(doc) assembling each
    * candidate doc's per-term sorted position arrays, then the
    * `interval_tree` expression walks the tree per doc over
    * compressed `(start, end) → combination count` multisets —
    * prefix-sum DP for ordered chains, inclusion–exclusion for
    * unordered windows, a width-tracking DP for `all_of`, plain
    * relation scans for the filter rules. Counts are computed
    * ARITHMETICALLY, never enumerated, so the round-17 hazard (one
    * pathological doc with every term at high tf forcing Π tfᵢ join
    * rows — or, before that, an OOM) is gone: that doc now costs
    * polynomial doc-local CPU and answers. The per-query
    * guard aggregation pass this replaces is deleted with it.
    *
    * Counting convention, unchanged since q280: `n_intervals` counts
    * qualifying interval COMBINATIONS — Lucene's lazy algorithm
    * counts MINIMAL intervals, so per-doc counts can differ from
    * ES's while the MATCHED DOC SET and `min_span` (the tightest
    * combination IS the minimal interval's width) agree exactly.
    * Counts are exact in Long (≥ 2⁶³ combinations in one doc is
    * beyond anything the previous enumeration could materialize).
    *
    * Plan shape: the postings scan and the per-doc array assembly
    * are codegen'd; matched-term rows alone shuffle ONCE (by doc);
    * the tree walk is one expression call per candidate doc.
    * `prefix`/`wildcard` sources expand against the dictionary
    * (capped, term-ascending) before planning; a source with zero
    * expansions simplifies algebraically (an empty `any_of` kid
    * drops; an empty `all_of`/semi-filter side empties the tree).
    * Output: (doc_id, n_intervals, min_span), id-ordered top-k. */
  def intervalsQuery(spark: SparkSession, rootDir: String,
                     node: IntervalsNode, k: Int = 10): DataFrame = {
    import graft.functions.IntervalTree
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val chain = readAnalyzer(root)
    val leafIdx = scala.collection.mutable.LinkedHashMap
      .empty[String, Int]
    def leaf(t: String): Int =
      leafIdx.getOrElseUpdate(t, leafIdx.size)
    def expand(filter: DataFrame => DataFrame): Seq[String] =
      filter(dictFrame(spark, root, segs).select("term").distinct())
        .orderBy("term").limit(QueryString.MaxLeafExpansions)
        .collect().map(_.getString(0)).toSeq
    // compile to the doc-local spec; None = a provably-empty node
    // (a multi-term source with zero dictionary expansions)
    def compile(n: IntervalsNode): Option[IntervalTree.Node] =
      n match {
        case IMatch(ts, mg, ordered) =>
          require(ts.nonEmpty, "intervals match needs terms")
          val qs = ts.map { t =>
            val a = qTerms(root, Seq(t))
            require(a.size == 1,
              s"every intervals term must survive analysis 1:1: $t")
            a.head
          }
          if (!ordered)
            require(qs.distinct.size == qs.size,
              "unordered intervals match needs distinct terms: " +
                ts.mkString(", "))
          Some(IntervalTree.MatchNode(qs.map(leaf), mg, ordered))
        case IPrefix(p) =>
          require(p.nonEmpty, "intervals prefix needs a prefix")
          val px = Analyzer.normalize(chain, p)
          val ts = expand(_.filter(col("term").startsWith(px)))
          if (ts.isEmpty) None
          else Some(IntervalTree.AnyOfNode(ts.map(t =>
            IntervalTree.MatchNode(Seq(leaf(t)), -1, ordered = true))))
        case IWildcard(p) =>
          require(p.nonEmpty, "intervals wildcard needs a pattern")
          val px = Analyzer.normalize(chain, p)
          val ts = expand(_.filter(col("term")
            .rlike(wildcardRegex(px))))
          if (ts.isEmpty) None
          else Some(IntervalTree.AnyOfNode(ts.map(t =>
            IntervalTree.MatchNode(Seq(leaf(t)), -1, ordered = true))))
        case IAnyOf(ks) =>
          require(ks.nonEmpty, "any_of needs sources")
          val kids = ks.flatMap(compile)
          if (kids.isEmpty) None else Some(IntervalTree.AnyOfNode(kids))
        case IAllOf(ks, mg, ordered) =>
          require(ks.nonEmpty, "all_of needs sources")
          require(ordered || ks.size <= 6,
            s"unordered all_of admits at most 6 sources " +
              s"(permutation-sum evaluation): ${ks.size}")
          val kids = ks.map(compile)
          if (kids.exists(_.isEmpty)) None
          else Some(IntervalTree.AllOfNode(kids.flatten, mg, ordered))
        case IFiltered(srcN, rule, byN) =>
          require(IntervalTree.FilterRules(rule),
            s"unsupported intervals filter rule: $rule")
          (compile(srcN), compile(byN)) match {
            case (None, _) => None
            case (Some(s), None) =>
              // an empty by side: ∃-rules match nothing, the not_
              // negations keep every src interval
              if (rule.startsWith("not_")) Some(s) else None
            case (Some(s), Some(b)) =>
              Some(IntervalTree.FilteredNode(s, rule, b))
          }
      }
    val spec = compile(node)
    import spark.implicits._
    if (spec.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "n_intervals", "min_span")
    val leaves = leafIdx.keys.toSeq
    val live = livePostings(spark, root, segs, leaves, nb)
    // one shuffle: each candidate doc's per-leaf position arrays
    // (a live doc has one postings row per term — the flatten is a
    // no-op on healthy manifests, sort_array re-pins order anyway)
    val perDoc = live.groupBy("doc_id").agg(
      sort_array(flatten(collect_list(
        when(col("term") === lit(leaves.head), col("positions")))))
        .as("ipos_0"),
      leaves.zipWithIndex.tail.map { case (t, i) =>
        sort_array(flatten(collect_list(
          when(col("term") === lit(t), col("positions")))))
          .as(s"ipos_$i")
      }: _*)
    graft.functions.GraftFunctions.register(spark)
    perDoc
      .withColumn("itc", call_function("interval_tree",
        lit(IntervalTree.serialize(spec.get)) +:
          leaves.indices.map(i => col(s"ipos_$i")): _*))
      .filter(col("itc").isNotNull)
      .select(col("doc_id"),
        col("itc.n_intervals").as("n_intervals"),
        col("itc.min_span").as("min_span"))
      .orderBy("doc_id").limit(k)
  }

  /** Field capabilities — ES's `GET /_field_caps`, the schema
    * introspection every Kibana session opens with: the index's
    * queryable fields with their types, merged across the live
    * segments' stored schemas (sparse mappings — a field missing
    * from some batches still reports, with the per-segment presence
    * count). Driver-side parquet FOOTER reads only — no data moves.
    * `searchable` marks the indexed full-text field (`text` — the
    * one column [[append]] tokenizes into postings); every stored
    * field is `aggregatable` (the parquet columnar layout IS the
    * doc-values store). Output: (field, dtype, searchable,
    * aggregatable, n_segments), field-ascending. */
  def fieldCaps(spark: SparkSession, rootDir: String): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val live = segs.filter(_.kind == "seg")
    val fields = live.flatMap { sg =>
      storedRead(spark, root, sg).schema.fields
        .map(f => (f.name, f.dataType.simpleString))
    }
    fields.groupBy(identity).map { case ((name, dt), occ) =>
      (name, dt, name == "text", true, occ.size.toLong)
    }.toSeq.sortBy(t => (t._1, t._2))
      .toDF("field", "dtype", "searchable", "aggregatable",
        "n_segments")
  }

  /** Filters aggregation — ES's `aggs.filters` with keyed buckets:
    * each NAMED bucket is its own term query (match-any semantics,
    * [[countQuery]]'s contract) and every bucket reports its live
    * distinct-hit count — the one-request dashboard split ("errors
    * vs warnings vs the rest") that would otherwise be N searches.
    * ALL buckets answer from ONE bucket-pruned postings scan of the
    * union of their analyzed terms (the `_msearch` amortization
    * applied to counting); a broadcast (name, term) membership join
    * fans rows to their buckets. Every REQUESTED bucket appears,
    * zero-count included — ES's keyed-filters response shape (a
    * filter whose terms all analyze away simply counts 0). Output:
    * (name, doc_count), name-ascending. */
  def filtersFacet(spark: SparkSession, rootDir: String,
                   filters: Seq[(String, Seq[String])],
                   otherBucket: Boolean = false): DataFrame = {
    require(filters.nonEmpty, "filtersFacet needs at least one filter")
    require(filters.map(_._1).distinct.size == filters.size,
      "filter names must be unique")
    require(!filters.exists(_._1 == "_other_"),
      "'_other_' is the reserved other-bucket key")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val analyzed = filters.map { case (n, ts) => n -> qTerms(root, ts) }
    val allTerms = analyzed.flatMap(_._2).distinct
    val names = filters.map(_._1).toDF("name")
    if (allTerms.isEmpty)
      return names.withColumn("doc_count", lit(0L)).orderBy("name")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, allTerms, nb)
      .filter(col("term").isin(allTerms: _*))
    val live = liveDocs(spark, root, segs)(p)
    val membership = analyzed
      .flatMap { case (n, ts) => ts.map(t => (n, t)) }
      .toDF("name", "term")
    val counts = live.join(broadcast(membership), "term")
      .groupBy("name")
      .agg(countDistinct(col("doc_id")).as("doc_count"))
    val keyed = broadcast(names).join(counts, Seq("name"), "left")
      .na.fill(0L, Seq("doc_count"))
    // ES's other_bucket: docs in context matching NO filter, under
    // the reserved "_other_" key — live-corpus count minus the
    // matched-any count, two scalar aggregates met in one broadcast
    // cross join (the single-row-frame shape). The corpus side is
    // one id-column stored read — the match_all context cost ES
    // itself pays for this bucket, stated.
    val out =
      if (!otherBucket) keyed
      else {
        val matchedAny = live
          .join(broadcast(membership.select("term").distinct()),
            Seq("term"), "left_semi")
          .agg(countDistinct(col("doc_id")).as("m"))
        val total = liveIds(spark, rootDir)
          .agg(count(lit(1)).as("t"))
        val other = total.crossJoin(broadcast(matchedAny))
          .select(lit("_other_").as("name"),
            (col("t") - col("m")).as("doc_count"))
        keyed.unionByName(other)
      }
    out.orderBy("name")
  }

  /** Adjacency-matrix aggregation — ES's `adjacency_matrix`: one
    * bucket per named filter plus one per PAIRWISE INTERSECTION
    * (key `a&b`, the lexicographically-ordered pair under ES's `&`
    * separator), the co-occurrence matrix behind graph/venn
    * visualizations. Same one-scan membership plumbing as
    * [[filtersFacet]]; the intersections come from a hit-set-sized
    * self-join on doc_id (O(hits · filters²) worst case — ES caps
    * the filter count for the same reason; pass a handful). Unlike
    * `filters`, EMPTY buckets are omitted — ES's documented rule for
    * this agg. Output: (key, doc_count), key-ascending. */
  def adjacencyMatrix(spark: SparkSession, rootDir: String,
                      filters: Seq[(String, Seq[String])]): DataFrame = {
    require(filters.nonEmpty, "adjacencyMatrix needs filters")
    require(filters.map(_._1).distinct.size == filters.size,
      "filter names must be unique")
    require(filters.forall(!_._1.contains("&")),
      "filter names cannot contain the '&' intersection separator")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val analyzed = filters.map { case (n, ts) => n -> qTerms(root, ts) }
    val allTerms = analyzed.flatMap(_._2).distinct
    val (nb, segs, _) = readManifest(root)
    if (allTerms.isEmpty)
      return Seq.empty[(String, Long)].toDF("key", "doc_count")
    val p = prunedPostings(spark, root, segs, allTerms, nb)
      .filter(col("term").isin(allTerms: _*))
    val live = liveDocs(spark, root, segs)(p)
    val membership = analyzed
      .flatMap { case (n, ts) => ts.map(t => (n, t)) }
      .toDF("name", "term")
    val docNames = live.join(broadcast(membership), "term")
      .select("name", "doc_id").distinct()
    val singles = docNames.groupBy("name")
      .agg(count(lit(1)).as("doc_count"))
      .withColumnRenamed("name", "key")
    val pairs = docNames
      .join(docNames.withColumnRenamed("name", "name2"), Seq("doc_id"))
      .filter(col("name") < col("name2"))
      .withColumn("key", concat(col("name"), lit("&"), col("name2")))
      .groupBy("key").agg(count(lit(1)).as("doc_count"))
    singles.unionByName(pairs).orderBy("key")
  }

  /** Percentile-ranks aggregation — ES's `percentile_ranks`, the
    * INVERSE of the percentiles agg ("what fraction of page loads
    * finish at or below 500ms"): for each requested value, the
    * percent of the live hit set's field values AT OR BELOW it
    * (ES's at-or-below reading). EXACT here — which keeps it on the
    * hash-oracle surface; ES itself serves TDigest, and at 100 TB
    * the swap is the same sketch-tier note as [[cardinalityFacet]].
    * The requested values ride as a broadcast literal frame into a
    * theta join ([[rangeFacet]]'s shape — O(hits · |values|), never
    * a shuffle by value); the rank is an exact integer count over
    * one double division. Every requested value appears (0.0 when
    * below all data). Output: (value, percentile_rank),
    * value-ascending. */
  def percentileRanksFacet(spark: SparkSession, rootDir: String,
                           terms: Seq[String], field: String,
                           values: Seq[Long]): DataFrame = {
    require(values.nonEmpty, "percentileRanksFacet needs values")
    import spark.implicits._
    val req = values.distinct.sorted.toDF("rv")
    val v = hitFieldValues(spark, rootDir, terms, field)
    val total = v.agg(count(lit(1)).as("n"))
    val counts = v.join(broadcast(req), col("value") <= col("rv"))
      .groupBy("rv").agg(count(lit(1)).as("le"))
    broadcast(req).join(counts, Seq("rv"), "left")
      .na.fill(0L, Seq("le"))
      .crossJoin(broadcast(total))
      .withColumn("percentile_rank",
        col("le").cast("double") * lit(100.0d) /
          col("n").cast("double"))
      .select(col("rv").as("value"), col("percentile_rank"))
      .orderBy("value")
  }

  /** Exists query — ES's `exists` (filter context): live documents
    * whose stored FIELD carries a value (non-null — ES's "has an
    * indexed value"), constant score 1.0 like every filter-context
    * query, doc_id-ordered first k. One column-pruned stored read
    * per segment with the IsNotNull predicate pushed into the
    * parquet scan; a segment whose schema lacks the field (sparse
    * mapping) contributes nothing. Output: (doc_id, score). */
  def existsQuery(spark: SparkSession, rootDir: String, field: String,
                  k: Int): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val live0 = segs.filter(_.kind == "seg")
    if (live0.isEmpty)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val stored = live0.map { sg =>
      val st = storedRead(spark, root, sg)
      (if (st.columns.contains(field))
        st.select(col("doc_id").cast("long").as("doc_id"),
          col(field).isNotNull.as("has"))
          .filter(col("has"))
      else
        Seq.empty[(Long, Boolean)].toDF("doc_id", "has"))
        .withColumn("seg", lit(sg.name.stripPrefix("seg=")))
    }.reduce(_ unionByName _)
    val live = liveDocs(spark, root, segs)(stored)
    live.select(col("doc_id"), lit(1.0d).as("score"))
      .orderBy("doc_id").limit(k)
  }

  /** Range aggregation — ES's `aggs.range` with explicit bounds:
    * every REQUESTED range appears in the output (zero-count ranges
    * included — ES returns all requested buckets), `from` inclusive,
    * `to` exclusive (ES's rule), over the live hit set's stored
    * field. The bounds ride as a broadcast literal frame into a
    * range-condition join — O(hits × |ranges|) comparisons, never a
    * shuffle by range. Output: (range_from, range_to, doc_count),
    * from-ascending. */
  def rangeFacet(spark: SparkSession, rootDir: String,
                 terms: Seq[String], field: String,
                 ranges: Seq[(Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "rangeFacet needs at least one range")
    import spark.implicits._
    val bounds = ranges.toDF("range_from", "range_to")
    val vals = hitFieldValues(spark, rootDir, terms, field)
    // the HIT SET stays distributed: the theta join broadcasts the
    // literal bounds into it (never the other way — a left-outer
    // from the bounds side would invite Spark to broadcast the hit
    // values); the zero-fill joins two range-count-sized frames
    val counts = vals.join(broadcast(bounds),
        col("value") >= col("range_from") &&
          col("value") < col("range_to"))
      .groupBy("range_from", "range_to")
      .agg(count(col("doc_id")).as("doc_count"))
    bounds.join(counts, Seq("range_from", "range_to"), "left")
      .na.fill(0L, Seq("doc_count"))
      .orderBy("range_from", "range_to")
  }

  /** Top-hits sub-aggregation — ES's `aggs.terms` + `top_hits`, the
    * "best N per category" read: the live hit set buckets by a
    * stored field and each bucket keeps its `perBucket` TOP-SCORED
    * documents under the (score desc, doc_id) total order — a
    * partitioned window over the scored hits joined to the
    * column-pruned doc-values read, never a per-bucket query
    * fan-out. Documents missing the field drop (ES's bucket rule).
    * Output: (value, doc_id, score, rank), (value asc, rank). */
  def topHitsFacet(spark: SparkSession, rootDir: String,
                   terms: Seq[String], field: String,
                   perBucket: Int): DataFrame = {
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass); the explicit
    // null filter replays hitFieldValues' missing-field drop
    val vals = liveStoredValues(spark, rootDir, field)
      .filter(col("value").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("value")
      .orderBy(desc("score"), asc("doc_id"))
    scored.join(vals, "doc_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perBucket)
      .select("value", "doc_id", "score", "rank")
      .orderBy(asc("value"), asc("rank"))
  }

  /** Cardinality + value-count aggregation — ES's `cardinality` and
    * `value_count` aggs over the live hit set's stored field, in one
    * row. The distinct count here is EXACT (which keeps it on the
    * hash-oracle surface); ES itself serves HLL++ for this agg — at
    * 100 TB swap `countDistinct` for
    * `hll_sketch_estimate(hll_sketch_agg(value, 14))`, the DataSketches
    * HLL q43/q119 already serve (one binary buffer, where Spark's
    * `approx_count_distinct` carries a long column per 10 registers),
    * and the plan shape (one partial+final aggregation over the
    * column-pruned doc-values read) is unchanged. Missing-field docs
    * drop from both numbers (ES's rule). Output: (cardinality,
    * value_count), one row. */
  def cardinalityFacet(spark: SparkSession, rootDir: String,
                       terms: Seq[String], field: String): DataFrame =
    hitFieldValues(spark, rootDir, terms, field)
      .agg(countDistinct(col("value")).as("cardinality"),
        count(col("value")).as("value_count"))

  /** Composite aggregation — ES's `composite` agg, the PAGINATED
    * aggregation that exists precisely because a high-cardinality
    * terms agg cannot return every bucket in one response: buckets
    * order by KEY (not doc count), the `after` cursor resumes
    * strictly past the previous page's last key, each page an
    * independent top-`size` — nothing accumulates with page depth
    * (the agg-side twin of [[searchAfter]]'s contract; at 10^9
    * groups this is THE way ES exports an aggregation). Output:
    * (value, doc_count), key-ascending, first `size` after the
    * cursor. */
  def compositeFacet(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String, size: Int,
                     after: Option[String] = None): DataFrame = {
    val buckets = hitFieldValues(spark, rootDir, terms, field)
      .groupBy("value")
      .agg(countDistinct(col("doc_id")).as("doc_count"))
    after.fold(buckets)(a => buckets.filter(col("value") > lit(a)))
      .orderBy("value")
      .limit(size)
  }

  /** `variable_width_histogram` — ES's data-adaptive bucketing (no
    * fixed interval; the agg CLUSTERS the values into `buckets`
    * groups), with the convention PINNED EXACT where ES is an
    * order-sensitive one-pass clusterer: equal-frequency split BY
    * DISTINCT VALUE — each distinct value belongs wholly to bucket
    * ⌊cum_before·buckets / n⌋ (cum_before = rows below it, n = total
    * rows), so bucket populations are as equal as value ties allow
    * and the result is deterministic for any row order (ES's own
    * docs warn its bucket bounds are approximate and order-
    * dependent; this engine trades that for reproducibility, the
    * q295 determinism posture). The split runs over the PER-VALUE
    * frame (value-cardinality-sized — the doc-values vocabulary,
    * never the corpus; the one unpartitioned window is over that
    * frame, the same bounded shape as the bucket-series pipelines);
    * centroid sums accumulate in DECIMAL(38,0) (the exact-moment
    * discipline) with ONE double division. Output: (bkey, doc_count,
    * vmin, vmax, centroid), bkey-ascending. */
  def variableWidthHistogramFacet(spark: SparkSession,
      rootDir: String, terms: Seq[String], field: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val perVal = hitFieldValues(spark, rootDir, terms, field)
      .groupBy("value").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("value"))
      .rowsBetween(org.apache.spark.sql.expressions
        .Window.unboundedPreceding, -1)
    val tot = perVal.agg(sum("cnt").as("n"))
    perVal
      .withColumn("cum_before",
        coalesce(sum("cnt").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bkey",
        expr(s"(cum_before * ${buckets}L) div n"))
      .groupBy("bkey")
      .agg(sum("cnt").as("doc_count"),
        min("value").as("vmin"), max("value").as("vmax"),
        sum(col("value").cast("decimal(38,0)") * col("cnt"))
          .as("vsum"))
      .withColumn("centroid",
        col("vsum").cast("double") / col("doc_count").cast("double"))
      .select("bkey", "doc_count", "vmin", "vmax", "centroid")
      .orderBy("bkey")
  }

  /** Multi-terms aggregation — ES's `multi_terms` (compound bucket
    * keys without a scripted concat): the query's live hit docs
    * bucket by the TUPLE of several stored fields, top-k buckets by
    * (doc_count desc, then each key ascending — ES's compound-key
    * tiebreak). Docs missing ANY of the fields drop (ES's rule: a
    * multi_terms bucket needs every key part). Still ONE
    * column-pruned `_stored/` scan for all key parts and one hash
    * aggregation. Output: (field..., doc_count). */
  def multiTermsFacet(spark: SparkSession, rootDir: String,
                      terms: Seq[String], fields: Seq[String],
                      kBuckets: Int): DataFrame = {
    require(fields.size >= 2,
      s"multi_terms needs at least two key fields: $fields")
    hitFields(spark, rootDir, terms, fields.map(f => f -> f),
        requireNonNull = fields)
      .groupBy(fields.map(col): _*)
      .agg(countDistinct(col("doc_id")).as("doc_count"))
      .orderBy(desc("doc_count") +: fields.map(asc): _*)
      .limit(kBuckets)
  }

  /** Rare-terms aggregation — ES's `rare_terms`, the long-tail
    * mirror of `terms` ("what values almost never occur"): buckets
    * of a stored field over the query's live hit set whose doc_count
    * is at most `maxDocCount` (ES's knob, default 1), ordered
    * ASCENDING by count (rarest first), value the tiebreaker — ES
    * documents rare_terms as ascending-only, which is why it is a
    * separate agg and not an `order` option on `terms`. ES
    * approximates membership with a CuckooFilter to bound memory on
    * its one-pass collector; a shuffle engine needs no sketch — the
    * exact count is one hash aggregation, the HAVING prunes before
    * the (bounded) result materializes. Output: (value, doc_count),
    * count-ascending. */
  def rareTermsFacet(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String,
                     maxDocCount: Long = 1L): DataFrame = {
    require(maxDocCount >= 1, s"maxDocCount must be >= 1: $maxDocCount")
    hitFieldValues(spark, rootDir, terms, field)
      .groupBy("value")
      .agg(countDistinct(col("doc_id")).as("doc_count"))
      .filter(col("doc_count") <= lit(maxDocCount))
      .orderBy(asc("doc_count"), asc("value"))
  }

  /** Function-score search — ES's `function_score` with a
    * `field_value_factor` (multiply) function, the
    * boost-by-popularity request every ranking system makes: the
    * relevance score multiplies by a stored numeric field (docs
    * missing the field boost by 1 — ES's `missing` default posture),
    * re-ranked by the boosted score. One multiplication of two
    * exactly-derived doubles — deterministic cross-engine, so the
    * whole boosted ranking stays on the oracle surface. Output:
    * (doc_id, score, boost_value, n_terms_hit), top-k by
    * (score desc, doc_id). */
  def functionScoreSearch(spark: SparkSession, rootDir: String,
                          terms: Seq[String], field: String,
                          k: Int): DataFrame = {
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read: the scored join bounds it (r18 — no second
    // postings pass; see liveStoredFields)
    val vals = liveStoredValues(spark, rootDir, field)
    scored.join(vals, Seq("doc_id"), "left")
      .withColumn("boost_value",
        coalesce(col("value").cast("double"), lit(1.0d)))
      .withColumn("score", col("score") * col("boost_value"))
      .select("doc_id", "score", "boost_value", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Boosting query — ES's `boosting` (demote without excluding —
    * the middle ground between should and must_not every relevance
    * tuner eventually needs): candidates and scores come from the
    * `positive` terms exactly like [[search]]; a doc also matching
    * ANY `negative` term keeps its hit but its score multiplies by
    * `negativeBoost` (ES's semantics — negative is a demotion
    * factor, not a filter). One extra pruned postings read for the
    * negative membership, one conditional multiply — the demoted
    * ranking stays on the exact oracle surface. Output: (doc_id,
    * score, demoted, n_terms_hit), top-k by (score desc, doc_id). */
  def boostingSearch(spark: SparkSession, rootDir: String,
                     positive: Seq[String], negative: Seq[String],
                     negativeBoost: Double, k: Int): DataFrame = {
    require(negativeBoost >= 0.0 && negativeBoost <= 1.0,
      s"negative_boost must be in [0,1]: $negativeBoost")
    require(negative.nonEmpty, "boosting needs negative terms")
    val root = new java.io.File(rootDir)
    val scored = scoredHits(spark, rootDir, positive)
    val nq = qTerms(root, negative)
    val (nb, segs, _) = readManifest(root)
    val negDocs = livePostings(spark, root, segs, nq, nb)
      .select("doc_id").distinct().withColumn("neg", lit(true))
    scored.join(negDocs, Seq("doc_id"), "left")
      .withColumn("demoted", coalesce(col("neg"), lit(false)))
      .withColumn("score",
        when(col("demoted"), col("score") * lit(negativeBoost))
          .otherwise(col("score")))
      .select("doc_id", "score", "demoted", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** distance_feature query — ES's recency/proximity booster (the
    * should clause behind "prefer newer / prefer nearer" rankings):
    * relevance plus `boost · pivot / (pivot + |value − origin|)` over
    * a stored numeric field — the bonus halves at distance `pivot`,
    * ES's exact kernel. Pure long arithmetic into one division and
    * one multiply-add — bit-stable cross-engine. Docs missing the
    * field keep their base relevance (the clause simply doesn't
    * match them — ES's rule). Output: (doc_id, score, bonus,
    * n_terms_hit), top-k by (score desc, doc_id). */
  def distanceFeatureSearch(spark: SparkSession, rootDir: String,
                            terms: Seq[String], field: String,
                            origin: Long, pivot: Long, boost: Double,
                            k: Int): DataFrame = {
    require(pivot > 0, s"pivot must be positive: $pivot")
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass)
    val vals = liveStoredValues(spark, rootDir, field)
    scored.join(vals, Seq("doc_id"), "left")
      .withColumn("bonus",
        when(col("value").isNotNull,
          lit(boost) * (lit(pivot.toDouble) /
            (lit(pivot.toDouble) +
              abs(col("value").cast("long") - lit(origin))
                .cast("double"))))
          .otherwise(lit(0.0d)))
      .withColumn("score", col("score") + col("bonus"))
      .select("doc_id", "score", "bonus", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Pinned query — ES's `pinned` (editorially promoted results):
    * the given ids surface FIRST in their request order (if live in
    * the index — a tombstoned pin vanishes), organic hits follow by
    * relevance with the pinned ids excluded. The pinned existence
    * check is an id-pushed stored read (footer-pruned — never a
    * corpus scan); a pinned doc that also matches organically shows
    * its real score, a non-matching pin shows 0 (ES gives pins an
    * artificial uniform score above the organic range). Output:
    * (doc_id, score, pinned), pins-then-organic, k rows total. */
  def pinnedSearch(spark: SparkSession, rootDir: String,
                   ids: Seq[Long], terms: Seq[String], k: Int)
      : DataFrame = {
    require(ids.nonEmpty, "pinned needs ids")
    require(ids.distinct.size == ids.size, "duplicate pinned ids")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val stored = storedFrame(spark, root, segs)
      .filter(col("doc_id").isin(ids: _*))
    val livePinned = liveDocs(spark, root, segs)(stored)
      .select("doc_id").distinct()
    val ord = ids.zipWithIndex.toDF("doc_id", "pin_ord")
    val scored = scoredHits(spark, rootDir, terms)
    val pins = livePinned.join(broadcast(ord), Seq("doc_id"))
      .join(scored.select("doc_id", "score"), Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0d)))
      .withColumn("pinned", lit(true))
      .orderBy(asc("pin_ord"))
      .select("doc_id", "score", "pinned")
      .limit(k)
    val organic = scored
      .join(broadcast(ord), Seq("doc_id"), "left_anti")
      .withColumn("pinned", lit(false))
      .orderBy(desc("score"), asc("doc_id"))
      .select("doc_id", "score", "pinned")
      .limit(k)
    // pins first (request order), then organic (relevance), k total —
    // the union re-sorts explicitly because union order is undefined
    pins.withColumn("bucket", lit(0))
      .unionByName(organic.withColumn("bucket", lit(1)))
      .join(broadcast(ord), Seq("doc_id"), "left")
      .orderBy(asc("bucket"), asc_nulls_last("pin_ord"),
        desc("score"), asc("doc_id"))
      .select("doc_id", "score", "pinned")
      .limit(k)
  }

  /** function_score `random_score` with a seed — ES's deterministic
    * shuffle (sampling UIs, A/B slots): every live hit of the query
    * re-scores by a seeded per-document pseudo-random in [0, 1). ES
    * hashes an internal doc key; this engine pins the DOCUMENTED
    * arithmetic `h = (doc_id · 2654435761 + seed) mod 2³¹;
    * r = h / 2³¹` (Knuth multiplicative hashing) so the shuffle is
    * reproducible across engines, sessions and partitionings — the
    * property ES only guarantees per-shard-layout.
    *
    * Overflow-proofed for the FULL long id space: the doc id reduces
    * mod 2³¹ BEFORE the multiply ((a mod m)·h ≡ a·h (mod m)), so the
    * widest intermediate is (2³¹−1)·2654435761 ≈ 5.7e18 < 2⁶³−1 —
    * a doc_id ≥ ~3.5e9 would otherwise wrap the raw product
    * silently, the sign-carrying `%` would go negative, and scores
    * would leave [0, 1) while the oracle (which widens or errors)
    * diverged. `pmod` (not `%`) keeps the residue non-negative for
    * negative ids too. The seed is bounded below 2³¹ so the add
    * cannot re-overflow the reduced product. Output: (doc_id,
    * score), top-k by (score desc, doc_id). */
  def randomScoreSearch(spark: SparkSession, rootDir: String,
                        terms: Seq[String], seed: Long, k: Int)
      : DataFrame = {
    val m = 2147483648L
    require(seed >= 0 && seed < m,
      s"seed must be in [0, 2^31): $seed")
    scoredHits(spark, rootDir, terms)
      .withColumn("score",
        pmod(pmod(col("doc_id"), lit(m)) * lit(2654435761L) +
            lit(seed), lit(m))
          .cast("double") / lit(m.toDouble))
      .select("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Query rescoring — ES's `rescore` (the two-phase ranking every
    * relevance stack runs: a cheap first pass over everything, an
    * expensive second pass over the top WINDOW only): the first-pass
    * relevance ([[search]]'s exact tf·(N/df)) selects the top
    * `windowSize` docs; ONLY those re-score as
    * `query_weight·score + rescore_weight·(score·field)` (the
    * field-value-factor rescorer — [[functionScoreSearch]]'s boost
    * confined to the window, exact double arithmetic, missing → 1)
    * and re-sort among themselves; documents OUTSIDE the window keep
    * their first-pass order BELOW the window — ES re-sorts only the
    * window, a tail doc can never climb past it. The expensive
    * scorer's cost is windowSize-bounded by construction — the whole
    * point of the API at scale. Output: (doc_id, score, rescored),
    * top-k (k ≤ windowSize pages never even read the tail). */
  def rescoreSearch(spark: SparkSession, rootDir: String,
                    terms: Seq[String], field: String,
                    windowSize: Int, k: Int,
                    queryWeight: Double = 1.0,
                    rescoreWeight: Double = 1.0): DataFrame =
    // the 1-phase case of the chain; `rescored` is n_phases > 0
    rescoreChain(spark, rootDir, terms,
      Seq((field, windowSize, queryWeight, rescoreWeight)), k)
      .withColumn("rescored", col("n_phases") > 0L)
      .select("doc_id", "score", "rescored")
      .orderBy(desc("rescored"), desc("score"), asc("doc_id"))

  /** CHAINED rescoring — ES's `rescore` ARRAY (rescorers apply in
    * sequence, each seeing the PREVIOUS phase's results, with
    * windows that narrow as the scorers get more expensive —
    * window₁ ⊇ window₂ ⊇ …, `require`d here because a WIDENING
    * window would have to re-score documents the previous phase never
    * ranked, which ES's sequential contract cannot express): phase i
    * re-scores only the top `windowᵢ` of phase i−1's ordering as
    * `qwᵢ·score + rwᵢ·(score·fieldᵢ)` (the field-value-factor
    * rescorer per phase, each with its OWN stored field and weights;
    * missing → 1) and re-sorts them among themselves; every document
    * a phase leaves behind keeps its then-current order BELOW every
    * later phase's window. `n_phases` reports how many rescorers
    * touched each row (the tail below window₁ reports 0), and the
    * output order is (n_phases desc, score desc, doc_id) — scores
    * from different phases are never compared to each other, which
    * is exactly ES's layering.
    *
    * Scale shape: the first pass is the one hit-set scan (persisted —
    * window selection and tail anti-join share it); every later
    * phase's input is window₁-bounded, so chaining more phases adds
    * only window-sized joins against column-pruned stored reads.
    * Output: (doc_id, score, n_phases), top-k. */
  def rescoreChain(spark: SparkSession, rootDir: String,
                   terms: Seq[String],
                   phases: Seq[(String, Int, Double, Double)],
                   k: Int): DataFrame = {
    require(phases.nonEmpty, "rescoreChain needs at least one phase")
    phases.foreach { case (_, w, _, _) =>
      require(w >= 1, s"windowSize must be >= 1: $w") }
    require(phases.map(_._2).sliding(2)
      .forall(p => p.size < 2 || p(0) >= p(1)),
      "rescore windows must be non-increasing: " +
        phases.map(_._2).mkString(", "))
    // persisted: the first-pass subtree feeds the window selection
    // AND the tail anti-join — without the cache it would evaluate
    // twice (bounded either way, but the first pass is the whole
    // hit-set scan). Spark's LRU cache owns the lifetime.
    val first = scoredHits(spark, rootDir, terms).persist()
    // ALL phases' rescore fields read in ONE column-pruned stored
    // pass, bounded to the hit set by a semi-join against the
    // PERSISTED first pass (r18: the old hitFields call re-resolved
    // the hit docs through a second postings pass + tombstone
    // anti-join when `first` already holds exactly that doc set in
    // cache); each phase then joins its window against its own
    // column of this frame.
    val phaseFields = phases.map(_._1).distinct
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val allVals = liveStoredFields(spark, root, segs,
      phaseFields.zipWithIndex.map { case (f, i) => f -> s"v_$i" })
      .join(first.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist()
    val valColOf = phaseFields.zipWithIndex
      .map { case (f, i) => f -> s"v_$i" }.toMap
    def applyPhase(win: DataFrame, field: String, qw: Double,
                   rw: Double): DataFrame = {
      val vals = allVals
        .select(col("doc_id"), col(valColOf(field)).as("value"))
      win.join(vals, Seq("doc_id"), "left")
        .withColumn("score",
          lit(qw) * col("score") +
            lit(rw) * (col("score") *
              coalesce(col("value").cast("double"), lit(1.0d))))
        .withColumn("n_phases", col("n_phases") + lit(1L))
        .select("doc_id", "score", "n_phases")
    }
    val (f0, w0, q0, r0) = phases.head
    val top0 = first
      .orderBy(desc("score"), asc("doc_id")).limit(w0)
      .select(col("doc_id"), col("score"), lit(0L).as("n_phases"))
    val tail0 = first
      .join(top0.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("score"), lit(0L).as("n_phases"))
    // the fold: `cur` is the bounded frame the NEXT phase narrows
    // (all its rows share one n_phases value, so score order alone
    // selects the next window); each phase's left-behind rows join
    // the finished layers
    val (last, layers) = phases.tail
      .foldLeft((applyPhase(top0, f0, q0, r0), List(tail0))) {
        case ((cur, ls), (field, w, qw, rw)) =>
          val win = cur
            .orderBy(desc("score"), asc("doc_id")).limit(w)
          val below = cur
            .join(win.select("doc_id"), Seq("doc_id"), "left_anti")
          (applyPhase(win, field, qw, rw), below :: ls)
      }
    val out = (last :: layers).reduce(_ unionByName _)
      .orderBy(desc("n_phases"), desc("score"), asc("doc_id"))
      .limit(k)
    // materialize the k-BOUNDED result eagerly, then RELEASE both
    // cached frames: the lazy alternative leaks `first`/`allVals`
    // into Spark's LRU until eviction, and repeated calls accumulate
    // cached hit-set scans (the round-16 review finding). The collect
    // is ≤ k rows by construction (the limit above) — the same
    // bounded-collect discipline every top-k entry states.
    import scala.jdk.CollectionConverters._
    val rows = out.collect().toSeq
    first.unpersist()
    allVals.unpersist()
    spark.createDataFrame(rows.asJava, out.schema)
  }

  /** Sub-aggregation — ES's nested
    * `aggs: { terms: { bucketField }, aggs: { stats: { statField } } }`,
    * the group-and-describe request every analytics dashboard makes:
    * the live hit set buckets by one stored field and each bucket
    * carries the stats of another. One column-pruned stored read
    * feeds both roles; ES's missing-field rules apply per role (a doc
    * missing the BUCKET field leaves the aggregation; a doc missing
    * only the STAT field still counts in its bucket, its absent value
    * ignored by the stats — hence avg divides by the VALUE count).
    * Output: (value, doc_count, vmin, vmax, vsum, vavg), top-k
    * buckets by (doc_count desc, value). */
  def facetStats(spark: SparkSession, rootDir: String,
                 terms: Seq[String], bucketField: String,
                 statField: String, kBuckets: Int,
                 orderMetric: String = "doc_count",
                 orderAsc: Boolean = false): DataFrame =
    multiFacetStats(spark, Seq("" -> rootDir), terms, bucketField,
      statField, kBuckets, orderMetric, orderAsc)

  /** [[facetStats]] across several indices — the nested terms+stats
    * agg under the (_index, _id) identity; per-role missing-field
    * rules unchanged. */
  def multiFacetStats(spark: SparkSession,
                      indices: Seq[(String, String)],
                      terms: Seq[String], bucketField: String,
                      statField: String, kBuckets: Int,
                      orderMetric: String = "doc_count",
                      orderAsc: Boolean = false): DataFrame = {
    require(indices.nonEmpty, "need at least one index")
    // ES's terms-agg `order: { <sub-agg metric>: asc|desc }` — the
    // "cheapest source first" request: any stats column may drive
    // the bucket ranking instead of doc_count (still a bounded
    // top-k over the aggregated bucket frame — TakeOrderedAndProject,
    // never a full sort). The value tiebreak keeps it total.
    require(Set("doc_count", "vmin", "vmax", "vsum", "vavg")
      (orderMetric), s"unknown order metric: $orderMetric")
    requireUniformAnalyzer(indices)
    val ord =
      if (orderAsc) asc(orderMetric) else desc(orderMetric)
    indices.map { case (name, root) =>
      hitFields(spark, root, terms,
        Seq(bucketField -> "value", statField -> "sv"),
        requireNonNull = Seq("value"))
        .withColumn("idx", lit(name))
    }.reduce(_ unionByName _)
      .groupBy("value")
      .agg(countDistinct(col("idx"), col("doc_id")).as("doc_count"),
        min("sv").as("vmin"),
        max("sv").as("vmax"),
        sum("sv").as("vsum"),
        count(col("sv")).as("n_vals"))
      .withColumn("vavg",
        col("vsum").cast("double") / col("n_vals").cast("double"))
      .select("value", "doc_count", "vmin", "vmax", "vsum", "vavg")
      .orderBy(ord, asc("value"))
      .limit(kBuckets)
  }

  /** Family-wide aggregations — every facet family routed through
    * [[familyRoots]] the way [[searchFamily]] already routes search:
    * analytics over a rolled index family without manual fan-out
    * (ES's `GET /<stem>-star/_search` with `aggs`). Because a document
    * lives in exactly one family member, each aggregation equals the
    * same aggregation over one combined index (the oracle pins
    * [[familyStatsFacet]]; the others share the (_index, _id)
    * identity argument of [[multiFacet]]). */
  def familyFacet(spark: SparkSession, aliasPath: String,
                  terms: Seq[String], field: String,
                  kBuckets: Int): DataFrame =
    multiFacet(spark, familyRoots(aliasPath), terms, field, kBuckets)

  /** See [[familyFacet]]. */
  def familyStatsFacet(spark: SparkSession, aliasPath: String,
                       terms: Seq[String], field: String): DataFrame =
    multiStatsFacet(spark, familyRoots(aliasPath), terms, field)

  /** See [[familyFacet]]. */
  def familyHistogramFacet(spark: SparkSession, aliasPath: String,
                           terms: Seq[String], field: String,
                           interval: Long): DataFrame =
    multiHistogramFacet(spark, familyRoots(aliasPath), terms, field,
      interval)

  /** See [[familyFacet]]. */
  def familyFacetStats(spark: SparkSession, aliasPath: String,
                       terms: Seq[String], bucketField: String,
                       statField: String, kBuckets: Int): DataFrame =
    multiFacetStats(spark, familyRoots(aliasPath), terms, bucketField,
      statField, kBuckets)

  /** See [[familyFacet]]. */
  def familySignificantTerms(spark: SparkSession, aliasPath: String,
                             terms: Seq[String], kTerms: Int,
                             minDocCount: Long = 3L): DataFrame =
    multiSignificantTerms(spark, familyRoots(aliasPath), terms,
      kTerms, minDocCount)

  /** Reindex — ES's `_reindex`: reads the source index's LIVE
    * `_source` rows (the stored fields — exactly what ES reindexes;
    * the postings are never copied) and builds a FRESH index at
    * `dstDir`, re-analyzing the text the way ES re-runs the analyzer,
    * under a possibly different bucket count. Tombstones do NOT
    * travel: deleted docs aren't copied, so the destination starts at
    * post-merge statistics — after a [[merge]] of the source, the two
    * indices rank bit-identically (the spec pins this). Idempotent
    * per destination through [[append]]'s batch-key replay guard.
    * Compose with [[setAlias]] for ES's zero-downtime swap: build the
    * destination, verify it, flip the alias. */
  def reindex(spark: SparkSession, srcDir: String, dstDir: String,
              nBuckets: Int = 8,
              analyzer: Option[String] = None): Unit = {
    val root = new java.io.File(srcDir)
    val (_, segs, _) = readManifest(root)
    val live = liveStored(spark, root, segs)
    // the destination's chain: the migration parameter, else the
    // source's — committed first so a pre-existing destination's own
    // chain wins inside append (the ES mapping contract). The
    // completion mapping migrates with the index (its artifact
    // regenerates under the destination's chain inside append).
    createIndex(dstDir, nBuckets,
      analyzer.getOrElse(analyzerNameOf(root)), cfPairOf(root),
      cfTripleOf(root).flatMap(_._3))
    append(spark, dstDir, live.drop("seg"), "reindex", nBuckets)
  }

  /** Create an EMPTY index — ES's create-index API: a manifest with
    * no segments, committed by the usual generation rename. Searches
    * answer zero hits; appends adopt the configured bucket count.
    * Idempotent — an existing index is left untouched. */
  def createIndex(rootDir: String, nBuckets: Int = 8,
                  analyzer: String = Analyzer.Whitespace.name,
                  completionField: Option[(String, String)] = None,
                  completionContext: Option[String] = None)
      : Unit = {
    val root = new java.io.File(rootDir)
    root.mkdirs()
    // resolve first: fails loudly before committing, and commits the
    // CANONICAL name (custom specs normalize)
    val an = Analyzer.byName(analyzer)
    if (!hasManifest(root))
      writeManifest(root, nBuckets, Seq.empty, 0L, Some(an.name),
        completionField.map(cfSpec(_, completionContext)))
  }

  /** Rollover — ES's `_rollover`, the first step of every index
    * lifecycle policy: when the WRITE alias's current index holds at
    * least `maxDocs` documents (a manifest-header stat — one O(1)
    * driver read, no data touched), create the NEXT index of the
    * family (`<stem>-NNNNNN` + 1, same bucket count) and atomically
    * flip the alias to it; ingest keeps appending through the alias
    * and lands in the fresh index, while the sealed indices stay
    * immutable and searchable through [[searchFamily]] (ES's read
    * alias over the rolled family). Returns whether it rolled. */
  def rollover(aliasPath: String, maxDocs: Long): Boolean = {
    val cur = resolveAlias(aliasPath)
    val (stem, n) = splitFamily(cur)
    val root = new java.io.File(cur)
    val (nb, segs, _) = readManifest(root)
    if (segs.filter(_.kind == "seg").map(_.nDocs).sum < maxDocs)
      return false
    val next = f"$stem-${n + 1}%06d"
    // the fresh family member inherits bucket count, analyzer AND
    // completion mapping
    createIndex(next, nb, analyzerNameOf(root), cfPairOf(root),
      cfTripleOf(root).flatMap(_._3))
    setAlias(aliasPath, next)
    true
  }

  private def splitFamily(path: String): (String, Long) = {
    val m = "^(.*)-(\\d{6})$".r
    path match {
      case m(stem, n) => (stem, n.toLong)
      case _ => throw new IllegalArgumentException(
        s"rollover needs a family-named index (<stem>-NNNNNN): $path")
    }
  }

  /** The alias's index FAMILY — every `<stem>-NNNNNN` up to the
    * current write index, named by its zero-padded ordinal (the
    * deterministic identity [[searchFamily]] reports as `idx`). */
  def familyRoots(aliasPath: String): Seq[(String, String)] = {
    val (stem, n) = splitFamily(resolveAlias(aliasPath))
    (1L to n).map(i => f"$i%06d" -> f"$stem-$i%06d")
      .filter { case (_, p) => hasManifest(new java.io.File(p)) }
  }

  /** Search the whole rolled family through the alias — ES's read
    * alias over `<stem>-*`: [[multiSearch]]'s global
    * dfs_query_then_fetch statistics over every family member, so
    * the rollover seam is invisible to relevance. */
  def searchFamily(spark: SparkSession, aliasPath: String,
                   terms: Seq[String], k: Int): DataFrame =
    multiSearch(spark, familyRoots(aliasPath), terms, k)

  /** Point an index ALIAS at a target root — ES's `_aliases` action
    * with the atomic-swap contract that makes zero-downtime reindex
    * work: the alias is ONE small file holding the target root,
    * replaced by ONE atomic rename through the portable commit seam —
    * a reader resolves the old target or the new, never a torn
    * pointer. (This is the pointer-swap use of
    * [[graft.engine.Fs.renameReplace]]: last-writer-wins is the
    * DESIRED semantic for an alias flip, unlike manifest commits
    * where it would lose data.) */
  def setAlias(aliasPath: String, targetRoot: String): Unit = {
    val alias = new java.io.File(aliasPath)
    Option(alias.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(alias.getParentFile,
      "." + alias.getName + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
    java.nio.file.Files.write(tmp.toPath,
      targetRoot.getBytes("UTF-8"))
    graft.engine.Fs.renameReplace(tmp, alias)
  }

  /** Resolve an alias to its current target root (the first line —
    * a FILTERED alias carries its filter on the second line, see
    * [[setAliasFiltered]]). */
  def resolveAlias(aliasPath: String): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(aliasPath).toPath), "UTF-8")
      .linesIterator.next().trim

  /** FILTERED alias — ES's alias with a `filter` clause (the
    * multi-tenant / view pattern: `logs-eu` is `logs` filtered to
    * `region:eu`): the alias file carries a stored-field equality
    * beside the target, and every search through the alias applies
    * it — the filter constrains WITHOUT scoring (ES runs alias
    * filters in filter context). Plain [[setAlias]] files (one line)
    * stay unfiltered — the format is backward compatible. */
  def setAliasFiltered(aliasPath: String, targetRoot: String,
                       field: String, value: String): Unit = {
    require(field.matches("[A-Za-z0-9_]+"),
      s"alias filter field must match [A-Za-z0-9_]+: '$field'")
    require(!value.contains("\n") && !value.contains("="),
      s"alias filter value must be one plain line: '$value'")
    val alias = new java.io.File(aliasPath)
    Option(alias.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(alias.getParentFile,
      "." + alias.getName + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
    java.nio.file.Files.write(tmp.toPath,
      s"$targetRoot\nfilter=$field=$value".getBytes("UTF-8"))
    graft.engine.Fs.renameReplace(tmp, alias)
  }

  /** The alias's filter clause, when present. */
  def aliasFilterOf(aliasPath: String): Option[(String, String)] = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(aliasPath).toPath), "UTF-8")
      .linesIterator.toSeq
    lines.find(_.startsWith("filter=")).map { l =>
      l.stripPrefix("filter=").split("=", 2) match {
        case Array(f, v) => (f, v)
        case _ => throw new IllegalArgumentException(
          s"malformed alias filter line '$l' in $aliasPath")
      }
    }
  }

  /** Search through an alias — ES's search-on-alias, the read side of
    * the zero-downtime swap. A FILTERED alias semi-joins the scored
    * hits against the live stored rows satisfying the filter (one
    * column-pruned, predicate-pushed stored read) BEFORE the top-k —
    * a tail hit outside the filter can never displace an in-filter
    * one. */
  def searchAlias(spark: SparkSession, aliasPath: String,
                  terms: Seq[String], k: Int): DataFrame = {
    val root = resolveAlias(aliasPath)
    aliasFilterOf(aliasPath) match {
      case None => search(spark, root, terms, k)
      case Some((f, v)) =>
        val rootF = new java.io.File(root)
        val (_, segs, _) = readManifest(rootF)
        val stored = storedFrame(spark, rootF, segs)
          .select(col("doc_id"), col(f).as("fv"), col("seg"))
        val live = liveDocs(spark, rootF, segs)(stored)
        scoredHits(spark, root, terms)
          .join(live.filter(col("fv") === lit(v)).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .orderBy(desc("score"), asc("doc_id"))
          .limit(k)
    }
  }

  /** Tombstone a set of doc_ids — Lucene's live-docs delete: the
    * postings stay until [[merge]]; queries skip the docs now, the
    * statistics keep counting them (Lucene parity). A tombstone
    * applies ONLY to segments committed BEFORE it in the manifest —
    * Lucene's exact rule (a delete never affects documents added
    * later), which is also what lets [[upsert]] commit
    * delete-old + add-new in one manifest write. Same idempotence
    * and crash contract as [[append]]. */
  def delete(spark: SparkSession, rootDir: String, docIds: DataFrame,
             batchKey: String): Unit =
    deleteWithLayout(spark, rootDir, docIds, batchKey,
      TombstoneRowsPerFile)

  /** Rows per tombstone parquet file — the victim-set write scales
    * out with the delete's size instead of funneling through one
    * task: a 4-doc interactive delete stays one file, a common-term
    * [[deleteByQuery]] whose victims are a corpus fraction lands as
    * ceil(n / this) doc-id-hash-bucketed files written in parallel
    * (capped at 256 — tombstone files are id-only and tiny). */
  private[operators] val TombstoneRowsPerFile: Long = 1L << 20

  private[operators] def tombstoneParts(n: Long, rowsPerFile: Long): Int =
    math.max(1L, math.min(256L,
      (n + rowsPerFile - 1) / math.max(1L, rowsPerFile))).toInt

  /** [[delete]] with an explicit file-layout knob — the test seam
    * proving a large victim set lands as multiple files. */
  private[operators] def deleteWithLayout(spark: SparkSession,
      rootDir: String, docIds: DataFrame, batchKey: String,
      rowsPerFile: Long): Unit = {
    val root = new java.io.File(rootDir)
    val (nb, segs, gen) = readManifest(root)
    val fp = graft.engine.Bucketing.fingerprint8("sx4del|" + batchKey)
    val name = s"del=$fp"
    if (segs.exists(_.name == name)) return
    val ids = docIds.select(col("doc_id").cast("long")).persist()
    val n = ids.count()
    graft.engine.Bucketing.atomicStage(new java.io.File(root, name)) {
      tmp => ids.repartition(tombstoneParts(n, rowsPerFile),
          col("doc_id"))
        .write.mode("overwrite").parquet(tmp.getPath)
    }
    ids.unpersist()
    commitBatch(root, name, nb, segs :+ Seg("del", name, n, 0L), gen)
  }

  /** Delete-by-query — ES's `_delete_by_query`: tombstone every LIVE
    * document matching ANY of the query terms, committed as ONE
    * manifest write. Pure composition of the existing pieces — the
    * bucket-pruned live hit set feeds [[delete]] — so it inherits
    * the idempotence (per batchKey), the prefix-scope rule (docs
    * added AFTER this commit are untouched even if they match), and
    * the statistics phases (df/N keep counting the deleted docs until
    * [[merge]], hit lists drop them immediately). The hit-id frame is
    * query-result-sized and never collects. */
  def deleteByQuery(spark: SparkSession, rootDir: String,
                    terms: Seq[String], batchKey: String): Unit = {
    require(terms.nonEmpty, "deleteByQuery needs at least one term")
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val hits = livePostings(spark, root, segs, qTerms(root, terms), nb)
      .select("doc_id").distinct()
    delete(spark, rootDir, hits, batchKey)
  }

  /** Update documents — Elasticsearch's update model (delete the old
    * version, index the new one), committed ATOMICALLY: the tombstone
    * segment for the batch's doc_ids and the new postings segment are
    * both staged first, then ONE manifest rename publishes both lines
    * — readers see the old versions or the new, never an index with
    * the delete but not the add. The tombstone line precedes the new
    * segment's, so by the prefix rule it hits only the OLD versions;
    * brand-new doc_ids in `docs` simply append. Idempotent per
    * `batchKey`; O(batch) like [[append]]. */
  def upsert(spark: SparkSession, rootDir: String, docs: DataFrame,
             batchKey: String): Unit = {
    val root = new java.io.File(rootDir)
    val (nb, segs, gen) = readManifest(root)
    val segFp = graft.engine.Bucketing.fingerprint8("sx4|" + batchKey)
    val segName = s"seg=$segFp"
    if (segs.exists(_.name == segName)) return
    val delFp = graft.engine.Bucketing
      .fingerprint8("sx4del|upsert|" + batchKey)
    val delName = s"del=$delFp"
    val an = readAnalyzer(root)
    val d = docs.persist()
    val stats = d.agg(count(lit(1)).as("n"),
      sum(Analyzer.dl(an, "text")).as("tl"))
      .collect().head
    // tombstone and segment stages are independent until the single
    // manifest publish below — run them (and the segment's artifact
    // writes) as concurrent jobs (guide §2.6); the stats pass above
    // already materialized the cached batch they all read
    graft.engine.Parallel.all(
      () => graft.engine.Bucketing.atomicStage(
        new java.io.File(root, delName)) {
          tmp => d.select(col("doc_id").cast("long"))
            .repartition(tombstoneParts(stats.getLong(0),
              TombstoneRowsPerFile), col("doc_id"))
            .write.mode("overwrite").parquet(tmp.getPath)
        },
      () => graft.engine.Bucketing.atomicStage(
        new java.io.File(root, segName)) {
          tmp =>
            // postings first and alone (overwrite truncates tmp),
            // then the independent artifact chains concurrently
            segPostings(d, nb, an).write.mode("overwrite")
              .partitionBy("tb").parquet(tmp.getPath)
            graft.engine.Parallel.all(
              () => writeDict(d.sparkSession, tmp, nb),
              () => writeStored(d, tmp, nb),
              () => cfTripleOf(root).foreach(t =>
                writeCField(d, tmp, nb, an, (t._1, t._2), t._3)))
        })
    d.unpersist()
    commitBatch(root, segName, nb,
      segs :+ Seg("del", delName, stats.getLong(0), 0L)
        :+ Seg("seg", segName, stats.getLong(0), stats.getLong(1)), gen)
  }

  /** ES's `_update_by_query` — "apply this script to every document
    * the query matches": the query's live hit docs re-read from the
    * stored fields (their CURRENT versions — an earlier upsert's dead
    * row is never the input), each `assignments` pair sets a column
    * to a SQL expression over the row (the painless-script analogue,
    * e.g. `"source" -> "'flagged'"` or `"n_chars" -> "n_chars + 1"`),
    * and the rewritten docs commit through [[upsert]]'s segment+
    * tombstone pair — exactly how ES implements it (scroll + bulk
    * reindex of new versions; the old docs become deleted, statistics
    * shift only at merge). Returns the updated-doc count (ES's
    * `updated` response field).
    *
    * Cost shape: one bucket-pruned postings read for the hit set;
    * then the matched-doc fetch is PLAN-GATED on the hit count, the
    * [[tombstones]] broadcast-sizing posture applied to a read path:
    * a SELECTIVE update (ES's common case — `_update_by_query` with
    * a narrow query) collects the hit ids (bounded by the gate, at
    * most `graft.updateByQuery.idPushdownMaxRows`+1 longs reach the
    * driver) and pushes them into every segment's stored read as an
    * id IN-list — the [[fetch]] plan, where the doc-id-sorted stored
    * files footer-prune to the matched row groups and a handful of
    * rewritten docs never costs a corpus read; ABOVE the gate (a
    * corpus-fraction rewrite) the id list would bloat planning and
    * prune nothing, so the fetch stays the scan-and-semi-join whose
    * cost the update itself is about to dwarf. One segment write
    * commits the result either way. */
  def updateByQuery(spark: SparkSession, rootDir: String,
                    terms: Seq[String],
                    assignments: Seq[(String, String)],
                    batchKey: String): Long = {
    require(assignments.nonEmpty, "updateByQuery needs assignments")
    val matched = matchedForUpdate(spark, rootDir, terms)
    val updated = assignments.foldLeft(matched) { case (df, (f, e)) =>
      df.withColumn(f, expr(e))
    }.persist()
    val n = updated.count()
    if (n > 0) upsert(spark, rootDir, updated, batchKey)
    updated.unpersist()
    n
  }

  /** The matched-doc fetch behind [[updateByQuery]], split out so its
    * PLAN is assertable: the gate decides between the id-IN-list
    * stored read (selective — PushedFilters carries the In(doc_id)
    * the doc-id-sorted stored files footer-prune on) and the
    * scan-and-semi-join (bulk). */
  private[operators] def matchedForUpdate(spark: SparkSession,
      rootDir: String, terms: Seq[String]): DataFrame = {
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, terms)
    require(qs.nonEmpty,
      "updateByQuery's query analyzed to nothing — refusing a no-op")
    val (nb, segs, _) = readManifest(root)
    val p = prunedPostings(spark, root, segs, qs, nb)
    val keepLive = liveDocs(spark, root, segs)
    val hits = keepLive(p).select("doc_id").distinct()
    val liveRows = keepLive(storedFrame(spark, root, segs))
    // the selective/scan gate (scaladoc above): the probe collect is
    // bounded by construction — limit(gate+1) caps what reaches the
    // driver regardless of the hit count, and its source is the
    // already-pruned postings hit set, never a corpus read
    val gate = spark.conf
      .getOption("graft.updateByQuery.idPushdownMaxRows").map(_.toInt)
      .getOrElse(UpdateByQueryIdPushdownMaxRowsDefault)
    val probe = hits.limit(gate + 1).collect().map(_.getLong(0))
    if (probe.length <= gate)
      liveRows.filter(col("doc_id").isin(probe: _*)).drop("seg")
    else
      liveRows.join(hits, Seq("doc_id"), "left_semi").drop("seg")
  }

  /** The postings schema, stated EXPLICITLY on every multi-segment
    * read: the `seg=<fingerprint>` directory names are Hive partition
    * values, and letting type inference loose on them invites an
    * all-numeric or scientific-notation-looking fingerprint set
    * (`12e34567`) to be inferred NUMERIC — value coercion against the
    * manifest's string segment names would then mismatch and silently
    * mis-apply tombstones. The same rule
    * [[Similarity.readIvfIndex]] already follows. */
  private val PostingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("positions",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("tb",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("seg",
      org.apache.spark.sql.types.StringType)))

  /** All postings of the given segments, explicit-schema, with the
    * (seg, tb) partition columns. An EMPTY index (a freshly
    * [[createIndex]]-ed rollover target before its first append)
    * reads as an empty frame of the same schema — every query
    * degrades to zero hits instead of a zero-path scan error. */
  private def segmentsRead(spark: SparkSession, root: java.io.File,
      segs: Seq[Seg]): DataFrame = {
    val paths = segs.filter(_.kind == "seg")
      .map(s => new java.io.File(root, s.name).getPath)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        PostingsSchema)
    else
      spark.read.option("basePath", root.getPath)
        .schema(PostingsSchema)
        .parquet(paths: _*)
  }

  /** The live postings of the queried terms only: every live
    * segment's scan arrives with `tb IN (term buckets)` as a
    * planning-time partition filter plus the term IN pushdown —
    * per-query cost is the queried posting lists, never a segment
    * scan. Tombstones NOT yet applied (callers choose the Lucene
    * phase: df before, hits after). */
  private[operators] def prunedPostings(spark: SparkSession, root: java.io.File,
      segs: Seq[Seg], terms: Seq[String], nb: Int): DataFrame = {
    val buckets = terms.map(termBucket(_, nb)).distinct
    segmentsRead(spark, root, segs)
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(terms: _*))
  }

  /** Expanded tombstone rows above which [[tombstones]] drops its
    * broadcast hint and lets AQE pick the anti-join strategy — sized
    * so the build side stays well under Spark's 8 GB broadcast
    * ceiling (16 bytes/row plus overhead at 4M rows is tens of MB).
    * Overridable per session via `graft.tombstones.broadcastMaxRows`
    * (also the test seam for the over-threshold plan). */
  private val BroadcastTombstoneRowsDefault = 4L * 1000 * 1000

  /** Hit count above which [[updateByQuery]] abandons the collected
    * id IN-list fetch for the scan-and-semi-join — sized where an
    * IN-list stops pruning and starts bloating planning (ES's own
    * terms-query ceiling `index.max_terms_count` is 65536; scroll
    * batches run 1k–10k). Overridable per session via
    * `graft.updateByQuery.idPushdownMaxRows` (also the test seam
    * for forcing either path). */
  private val UpdateByQueryIdPushdownMaxRowsDefault = 10000

  /** Tombstoned (doc_id, seg) pairs — each delete segment expanded
    * against the postings segments committed BEFORE it in the
    * manifest (the prefix rule: a delete never touches documents
    * added later, which is what keeps [[upsert]]'s new versions
    * alive). Batch-bounded × O(segments) rows.
    *
    * The broadcast hint for [[liveDocs]]'s (doc_id, seg) anti join
    * is decided HERE, gated on the MANIFEST's tombstone accounting
    * (each del line's recorded row count × the postings segments it
    * applies to is exactly the expanded build-side cardinality — no
    * data is read to decide): a handful of interactive deletes ride
    * as a tiny broadcast into every query, while a common-term
    * delete-by-query whose victim set is a corpus fraction must NOT
    * be forced through the 8 GB broadcast ceiling — above the
    * threshold the hint is dropped and AQE plans the join from
    * runtime statistics. */
  private def tombstones(spark: SparkSession, root: java.io.File,
                         segs: Seq[Seg]): Option[DataFrame] = {
    val dels = segs.zipWithIndex.filter(_._1.kind == "del")
    val frames = dels
      .flatMap { case (del, i) =>
        val applies = segs.take(i).filter(_.kind == "seg")
          .map(_.name.stripPrefix("seg="))
        if (applies.isEmpty) None
        else Some(spark.read.schema(TombstoneSchema)
          .parquet(new java.io.File(root, del.name).getPath)
          .withColumn("seg",
            explode(array(applies.map(lit): _*))))
      }
    val expandedRows = dels.map { case (del, i) =>
      del.nDocs * segs.take(i).count(_.kind == "seg")
    }.sum
    val maxRows = spark.conf
      .getOption("graft.tombstones.broadcastMaxRows").map(_.toLong)
      .getOrElse(BroadcastTombstoneRowsDefault)
    frames.reduceOption(_ unionByName _)
      .map(f => if (expandedRows <= maxRows) broadcast(f) else f)
  }

  /** The live-docs rule — Lucene's live-docs bitmap, the ONE place it
    * is written: the returned function drops a frame's rows whose
    * (doc_id, seg) is tombstoned under `segs` (a left-anti join
    * against [[tombstones]], broadcast-gated there); with no
    * tombstones it is the identity. Reads [[tombstones]] once, so a
    * caller filtering several frames (hits and stored rows, say)
    * applies the one returned function to each. Statistics phases
    * stay the caller's choice: df/N read the frame BEFORE the rule,
    * hit lists after it. */
  private[operators] def liveDocs(spark: SparkSession, root: java.io.File,
      segs: Seq[Seg]): DataFrame => DataFrame = {
    val dead = tombstones(spark, root, segs)
    x => dead.fold(x)(d => x.join(d, Seq("doc_id", "seg"), "left_anti"))
  }

  /** The live stored rows of `segs` — [[storedFrame]] under
    * [[liveDocs]]. */
  private[operators] def liveStored(spark: SparkSession,
      root: java.io.File, segs: Seq[Seg]): DataFrame =
    liveDocs(spark, root, segs)(storedFrame(spark, root, segs))

  /** The live postings of `terms` — [[prunedPostings]] under
    * [[liveDocs]], for reads that take no df from the pre-tombstone
    * postings. */
  private def livePostings(spark: SparkSession, root: java.io.File,
      segs: Seq[Seg], terms: Seq[String], nb: Int): DataFrame =
    liveDocs(spark, root, segs)(prunedPostings(spark, root, segs, terms, nb))

  /** Term search over the segmented index with Lucene's statistics
    * semantics: N and df INCLUDE tombstoned documents (stats shift
    * only at [[merge]]), the hit list EXCLUDES them immediately.
    * Scoring is the exact tf·(N/df) surface ([[Search.search]]'s
    * fixed-order pivoted sums — bit-identical across engines and
    * shuffle orders). Output: (doc_id, score, n_terms_hit), top-k by
    * (score desc, doc_id) — a TakeOrderedAndProject, never a global
    * sort. */
  def search(spark: SparkSession, rootDir: String, terms: Seq[String],
             k: Int): DataFrame =
    scoredHits(spark, rootDir, terms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** Deep pagination — ES's `search_after`: the cursor is the LAST
    * row of the previous page under the total (score desc, doc_id)
    * order (doc_id is ES's mandated `_id` tiebreaker, which makes the
    * sort total and the cursor unambiguous), and the next page is the
    * top-k of the rows STRICTLY after it. Each page is an independent
    * top-k (TakeOrderedAndProject) over the pruned posting lists —
    * nothing accumulates with page depth, which is exactly why ES
    * deprecates `from + size` deep paging in favor of this. Scores
    * are [[scoreLive]]'s order-fixed exact arithmetic, so the cursor
    * score compares bit-identically across pages. Schema of
    * [[search]]. */
  def searchAfter(spark: SparkSession, rootDir: String,
                  terms: Seq[String], k: Int, afterScore: Double,
                  afterDocId: Long): DataFrame =
    scoredHits(spark, rootDir, terms)
      .filter(col("score") < lit(afterScore) ||
        (col("score") === lit(afterScore) &&
          col("doc_id") > lit(afterDocId)))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** Point-in-time search — ES's PIT / Lucene's pinned IndexReader:
    * serve a query against the index EXACTLY as it was at a retained
    * manifest generation; appends, deletes, upserts and merges
    * committed after it are invisible. Segment immutability is what
    * makes this free — a superseded generation's directories are
    * still on disk (vacuum is age-thresholded and retirement is
    * deferred, the same contract that keeps in-flight readers safe),
    * so pinning a view costs one manifest parse. Retention window =
    * the newest [[KeepGenerations]] commits; a pruned generation
    * fails loudly. Schema and semantics of [[search]]. */
  def searchAt(spark: SparkSession, rootDir: String, gen: Long,
               terms: Seq[String], k: Int): DataFrame = {
    val root = new java.io.File(rootDir)
    val (nb, segs) = readManifestAt(root, gen)
    scoredHitsFor(spark, root, nb, segs, qTerms(root, terms))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Field collapsing — ES's `collapse`: the ranked hit list keeps
    * only the TOP-SCORED hit per value of a stored field (the
    * one-result-per-domain dedup every search UI applies), the final
    * top-k taken AFTER collapsing, ordered by the representatives'
    * scores. Field values read column-pruned from `_stored/` (the
    * doc-values path); documents missing the field collapse into one
    * null group (ES's null treatment). Output: (doc_id, score,
    * group_value), top-k by (score desc, doc_id). */
  def collapseSearch(spark: SparkSession, rootDir: String,
                     terms: Seq[String], field: String,
                     k: Int): DataFrame = {
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass)
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val vals = liveStoredFields(spark, root, segs,
      Seq(field -> "group_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_value")
      .orderBy(desc("score"), asc("doc_id"))
    scored.join(vals, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "score", "group_value")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Field collapsing WITH inner hits — ES's `collapse.inner_hits`
    * (the "one result per seller, with their next-best offers"
    * read): [[collapseSearch]]'s one-hit-per-group ranking, but each
    * surviving group also carries its top `innerN` members. Groups
    * rank by their HEAD's (score desc, doc_id) — ES's rule — and the
    * inner list re-uses the same ordering inside the group. One
    * scored pass, one stored read, one rank window PARTITIONED BY
    * GROUP (bucket-sized partitions) — the inner expansion joins the
    * kept group keys semi-style, never rescanning. Output:
    * (group_value, group_rank, inner_rank, doc_id, score) —
    * group_rank 1..kGroups in head order, inner_rank 1 IS the
    * collapsed hit. */
  def collapseInnerHits(spark: SparkSession, rootDir: String,
                        terms: Seq[String], field: String,
                        kGroups: Int, innerN: Int): DataFrame = {
    require(innerN >= 1, s"innerN must be >= 1: $innerN")
    val scored = scoredHits(spark, rootDir, terms)
    // attach-only read (r18 — no second postings pass)
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val vals = liveStoredFields(spark, root, segs,
      Seq(field -> "group_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_value")
      .orderBy(desc("score"), asc("doc_id"))
    // ranked feeds BOTH the head ranking and the inner expansion —
    // persist so the scored pass and the group window run once
    // (rescoreSearch's first-pass precedent; hit-set-bounded)
    val ranked = scored.join(vals, "doc_id")
      .withColumn("inner_rank", row_number().over(w))
      .persist()
    val heads = ranked.filter(col("inner_rank") === 1)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(kGroups)
      .withColumn("group_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("score"), asc("doc_id"))))
      .select("group_value", "group_rank")
    ranked.filter(col("inner_rank") <= lit(innerN))
      .join(broadcast(heads), Seq("group_value"))
      .select("group_value", "group_rank", "inner_rank", "doc_id",
        "score")
      .orderBy(asc("group_rank"), asc("inner_rank"))
  }

  /** Score explanation — ES's `_explain` API: WHY one live document
    * got its score — the per-term contribution breakdown of
    * [[search]]'s exact scorer (tf, df, and tf·N/df per matched
    * query term, under the usual Lucene phases: df/N pre-tombstone).
    * A tombstoned or non-matching doc explains to zero rows, exactly
    * ES's `matched: false`. Cost: the queried posting lists, like
    * any search. Output: (term, tf, doc_freq, contrib), term-asc. */
  def explainScore(spark: SparkSession, rootDir: String, docId: Long,
                   terms: Seq[String]): DataFrame = {
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val p = prunedPostings(spark, root, segs, qTerms(root, terms), nb)
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    live.filter(col("doc_id") === lit(docId))
      .join(dfreq, "term")
      .withColumn("contrib", col("tf").cast("double") *
        (lit(nDocs).cast("double") / col("doc_freq").cast("double")))
      .select("term", "tf", "doc_freq", "contrib")
      .orderBy("term")
  }

  /** Every live hit of the query terms, scored but unranked — the
    * frame [[search]] and [[searchAfter]] page over. */
  private def scoredHits(spark: SparkSession, rootDir: String,
                         terms: Seq[String]): DataFrame = {
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val (flat, phrases) =
      Analyzer.queryTermsSplit(readAnalyzer(root), terms)
    val base = scoredHitsFor(spark, root, nb, segs, flat)
    if (phrases.isEmpty) return base
    // MULTI-WORD query synonyms (round-18): each multi-token
    // expansion is a PHRASE CLAUSE over the untouched index —
    // Lucene's SynonymGraphFilter query-time rewrite ("nyc" →
    // TermQuery(nyc) OR PhraseQuery(new york)). Each phrase scores
    // under the pinned exact-phrase pseudo-term convention
    // ([[multiMatchPhraseSearch]]): n_occurrences · (N / phrase df),
    // N the index's doc count, df the EXACT count of live docs
    // holding the phrase (one single-row broadcast per clause).
    // Clause scores add to the term score in fixed clause order
    // (terms first, then phrases in map order) — the scoreLive
    // determinism discipline; n_terms_hit counts matched clauses.
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val merged = phrases.zipWithIndex.foldLeft(
      base.select(col("doc_id"), col("score"), col("n_terms_hit"))) {
      case (acc, (ws, i)) =>
        val ph = phraseSearch(spark, rootDir, ws)
        val dfRow = ph.agg(count(lit(1)).as("dfp"))
        val scored = ph.crossJoin(broadcast(dfRow))
          .select(col("doc_id"),
            (col("n_occurrences").cast("double") *
              (lit(nDocs).cast("double") / col("dfp").cast("double")))
              .as(s"ps_$i"))
        acc.join(scored, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("score"), lit(0.0d)) +
              coalesce(col(s"ps_$i"), lit(0.0d))).as("score"),
            (coalesce(col("n_terms_hit"), lit(0L)) +
              when(col(s"ps_$i").isNotNull, lit(1L)).otherwise(lit(0L)))
              .as("n_terms_hit"))
    }
    merged
  }

  /** [[scoredHits]] against an explicit (possibly pinned) manifest
    * view. */
  private def scoredHitsFor(spark: SparkSession, root: java.io.File,
      nb: Int, segs: Seq[Seg], terms: Seq[String]): DataFrame = {
    if (terms.isEmpty) {
      // a query that ANALYZES to nothing (all stopwords) matches
      // nothing — ES's zero_terms_query:none default
      import spark.implicits._
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    }
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val p = prunedPostings(spark, root, segs, terms, nb)
    // df BEFORE tombstones — Lucene counts deleted docs' postings in
    // its term statistics until a merge rewrites them
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    scoreLive(live, dfreq, terms, nDocs)
  }

  /** The exact tf·(N/df) scoring shared by [[search]],
    * [[maxScoreSearch]] and [[multiSearch]]: fixed-order pivoted sums
    * — bit-identical across engines and shuffle orders. Grouping keys
    * default to the doc id; the federated path adds the index name. */
  private def scoreLive(live: DataFrame, dfreq: DataFrame,
                        terms: Seq[String], nDocs: Long,
                        keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t),
        col("tf").cast("double") *
          (lit(nDocs).cast("double") / col("doc_freq").cast("double")))
        .otherwise(lit(0.0d))).as(s"c_$i")
    }
    val score = terms.indices.map(i => col(s"c_$i")).reduce(_ + _)
    live.join(dfreq, "term")
      .groupBy(keys.map(col): _*)
      .agg(contribs.head,
        contribs.tail :+ count(lit(1)).as("n_terms_hit"): _*)
      .withColumn("score", score)
      .select(keys.map(col) :+ col("score") :+ col("n_terms_hit"): _*)
  }

  /** Boolean query over the segmented index — ES's `bool` query with
    * term clauses, the composition every real search request uses:
    *
    *   - `must`: every term REQUIRED (a conjunction); each matched
    *     clause contributes to the score;
    *   - `should`: optional; matching terms add score; when `must`
    *     is empty at least one should-term must match (ES's
    *     `minimum_should_match = 1` default for a should-only bool);
    *   - `mustNot`: pure filter — a matching doc is excluded and the
    *     clause never contributes score (ES runs must_not in filter
    *     context, score 0);
    *   - `rangeFilter`: ES's `bool.filter` with a `range` clause — an
    *     inclusive bound on a STORED doc-values field, constraining
    *     without scoring (filter context never touches df or the
    *     score). The field reads column-pruned from `_stored/` with
    *     the range predicate pushed into the parquet scan, LIVE rows
    *     only — an upserted document is judged on its NEW field value
    *     even while the old version's stored row awaits merge.
    *
    * Scoring is [[search]]'s exact tf·(N/df) per matched scoring
    * clause under the usual Lucene statistics phases (df and N count
    * tombstoned docs until merge; hit lists exclude them
    * immediately), which keeps the full composition on the DuckDB
    * oracle surface. All clause sets read bucket-pruned postings of
    * just their terms (one shared scan); the conjunction is a
    * distinct-term count, the exclusion an anti join — candidate
    * frames stay distributed, nothing collects. Output: (doc_id,
    * score, n_terms_hit), top-k by (score desc, doc_id). */
  def boolSearch(spark: SparkSession, rootDir: String,
                 must: Seq[String], should: Seq[String] = Seq.empty,
                 mustNot: Seq[String] = Seq.empty,
                 k: Int = 10,
                 rangeFilter: Option[(String, Long, Long)] = None,
                 minimumShouldMatch: Option[Int] = None)
      : DataFrame = {
    // ES's `minimum_should_match`: when set, a candidate must match
    // at least that many DISTINCT should terms (on top of the must
    // rules); unset keeps ES's defaults — should purely optional
    // beside a must, at-least-one for a should-only bool. The bound
    // applies to the ANALYZED should set: a bound no surviving set
    // can reach matches nothing (Lucene's unsatisfiable bool — by
    // construction here, no special case).
    minimumShouldMatch.foreach(n =>
      require(n >= 1, s"minimum_should_match must be >= 1: $n"))
    require(must.nonEmpty || should.nonEmpty,
      "boolSearch needs at least one scoring clause (must or should)")
    val root = new java.io.File(rootDir)
    val an = readAnalyzer(root)
    // each clause analyzes independently (ES analyzes every match
    // clause with the field's analyzer); a clause whose terms are all
    // stopwords simply vanishes — ES's zero_terms_query:none
    val must2 = Analyzer.queryTerms(an, must)
    val should2 = Analyzer.queryTerms(an, should)
    val mustNot2 = Analyzer.queryTerms(an, mustNot)
    val scoring = (must2 ++ should2).distinct
    if (scoring.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    }
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val p = prunedPostings(spark, root, segs,
      (scoring ++ mustNot2).distinct, nb)
    // df BEFORE tombstones (Lucene's stats phase), scoring terms only
    val dfreq = p.filter(col("term").isin(scoring: _*))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val keepLive = liveDocs(spark, root, segs)
    val live = keepLive(p)
    // candidates: all-of-must, plus >= minimum_should_match distinct
    // should terms (default: 0 beside a must, 1 for should-only)
    val msm: Int =
      minimumShouldMatch.getOrElse(if (must2.nonEmpty) 0 else 1)
    def shouldCand(atLeast: Int): DataFrame =
      live.filter(col("term").isin(should2: _*))
        .groupBy("doc_id")
        .agg(countDistinct(col("term")).as("ns"))
        .filter(col("ns") >= lit(atLeast.toLong))
        .select("doc_id")
    val cand0 =
      if (must2.nonEmpty) {
        val m = live.filter(col("term").isin(must2: _*))
          .groupBy("doc_id")
          .agg(countDistinct(col("term")).as("nm"))
          .filter(col("nm") === lit(must2.size.toLong))
          .select("doc_id")
        if (msm <= 0) m
        else m.join(shouldCand(msm), Seq("doc_id"), "left_semi")
      } else shouldCand(msm)
    val cand1 =
      if (mustNot2.isEmpty) cand0
      else cand0.join(
        live.filter(col("term").isin(mustNot2: _*))
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    val cand = rangeFilter match {
      case Some((field, lo, hi)) =>
        val vals = storedFrame(spark, root, segs)
          .select(col("doc_id"), col(field).as("rv"), col("seg"))
          .filter(col("rv").between(lo, hi))
        // live stored rows only: an upserted doc must be judged on
        // its NEW value, not the dead version's still-on-disk row
        cand1.join(keepLive(vals).select("doc_id"), Seq("doc_id"),
          "left_semi")
      case None => cand1
    }
    scoreLive(live.filter(col("term").isin(scoring: _*))
        .join(cand, Seq("doc_id"), "left_semi"),
      dfreq, scoring, nDocs)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The clause structure a simple_query_string parses to: bare
    * terms and quoted phrases, each bucketed by its `+`/`-` prefix
    * (must / must_not; unprefixed = should). */
  private[graft] case class SqsParsed(
      mustTerms: Seq[String], shouldTerms: Seq[String],
      mustNotTerms: Seq[String], mustPhrases: Seq[Seq[String]],
      shouldPhrases: Seq[Seq[String]],
      mustNotPhrases: Seq[Seq[String]])

  /** One simple_query_string token: an optional +/- prefix, then a
    * quoted phrase or a bare word (a bare word stops at whitespace,
    * `|` or a quote). */
  private val SqsToken = """([+\-]?)(?:"([^"]*)"|([^\s|"]+))""".r

  /** The lenient tokenizer behind [[simpleQueryString]] — never
    * throws on any input (ES's documented contract for this query
    * type: invalid syntax degrades, it does not error). Supported
    * operators: `+term` (must), `-term` (must_not), `"a b"` (exact
    * phrase, prefixable), bare terms (should). `|` is whitespace
    * here because the engine implements `default_operator: OR`
    * (ES's default), under which OR is already the combinator; the
    * `*` prefix, `~N` fuzzy/slop and `(` grouping flags are NOT
    * implemented (ES's `flags` knob exists precisely to switch
    * subsets off — this is the OR|NOT|PHRASE|PLUS subset, stated
    * loudly rather than approximated quietly). */
  private[graft] def parseSqs(q: String): SqsParsed = {
    var mt, st, nt = Vector.empty[String]
    var mp, sp, np = Vector.empty[Seq[String]]
    for (m <- SqsToken.findAllMatchIn(q)) {
      val sign = m.group(1)
      Option(m.group(2)) match {
        case Some(p) =>
          val toks = p.trim.split("\\s+").filter(_.nonEmpty).toSeq
          if (toks.nonEmpty) sign match {
            case "+" => mp :+= toks
            case "-" => np :+= toks
            case _   => sp :+= toks
          }
        case None =>
          val t = m.group(3)
          sign match {
            case "+" => mt :+= t
            case "-" => nt :+= t
            case _   => st :+= t
          }
      }
    }
    SqsParsed(mt, st, nt, mp, sp, np)
  }

  /** ES's `simple_query_string` — the lenient user-facing query box
    * (Kibana's search bar): one string compiles to the bool shape
    * ([[parseSqs]] documents the supported operator subset) and
    * executes on the exact machinery the structured queries use.
    *
    * Semantics, stated precisely:
    *  - candidates must match EVERY `+` clause (terms all-of,
    *    phrases by exact adjacency via [[phraseSearch]] — stopword
    *    gaps and all); with no `+` clause, ANY should clause
    *    qualifies (`default_operator: OR`);
    *  - any `-` clause match disqualifies;
    *  - the score is the engine's fixed-order tf·(N/df) sum over the
    *    DISTINCT scoring terms (must ++ should, analyzed) — phrases
    *    gate candidacy but score zero (filter context; ES would add
    *    a phrase-freq term — a doc matching only via a phrase
    *    surfaces here with score 0, ranked by the id tiebreak);
    *  - each clause analyzes with the index's own chain; a clause
    *    whose terms all analyze away simply vanishes (ES's leniency
    *    again); a query with no surviving clause at all matches
    *    nothing (`zero_terms_query: none`), while a NEGATION-ONLY
    *    query (`-foo`) is ES's match_all-minus-exclusions — every
    *    live doc except the excluded, score 0 (the one shape whose
    *    candidate base costs an id-column corpus read, exactly as it
    *    does in ES).
    *
    * Cost shape: one bucket-pruned postings read for every term
    * clause, one [[phraseSearch]] anchor-count per phrase clause
    * (positional postings of the phrase's own terms only), joined
    * semi/anti on doc ids — no corpus scan anywhere. Output:
    * (doc_id, score, n_terms_hit), top-k by (score desc, doc_id). */
  def simpleQueryString(spark: SparkSession, rootDir: String,
                        query: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val pq = parseSqs(query)
    val root = new java.io.File(rootDir)
    val an = readAnalyzer(root)
    val must2 = Analyzer.queryTerms(an, pq.mustTerms)
    val should2 = Analyzer.queryTerms(an, pq.shouldTerms)
    val mustNot2 = Analyzer.queryTerms(an, pq.mustNotTerms)
    val scoring = (must2 ++ should2).distinct
    val hasMust = must2.nonEmpty || pq.mustPhrases.nonEmpty
    val negOnly = !hasMust && should2.isEmpty &&
      pq.shouldPhrases.isEmpty &&
      (mustNot2.nonEmpty || pq.mustNotPhrases.nonEmpty)
    if (!hasMust && should2.isEmpty && pq.shouldPhrases.isEmpty &&
        !negOnly)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    val (nb, segs, _) = readManifest(root)
    val allTerms = (scoring ++ mustNot2).distinct
    lazy val live = livePostings(spark, root, segs, allTerms, nb)
    def withAll(ts: Seq[String]) =
      live.filter(col("term").isin(ts: _*))
        .groupBy("doc_id")
        .agg(countDistinct(col("term")).as("nm"))
        .filter(col("nm") === lit(ts.size.toLong))
        .select("doc_id")
    def withAny(ts: Seq[String]) =
      live.filter(col("term").isin(ts: _*))
        .select("doc_id").distinct()
    def phraseDocs(p: Seq[String]) =
      phraseSearch(spark, rootDir, p).select("doc_id")
    val mustParts =
      (if (must2.nonEmpty) Seq(withAll(must2)) else Seq.empty) ++
        pq.mustPhrases.map(phraseDocs)
    val cand0 =
      if (mustParts.nonEmpty)
        mustParts.reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
      else if (negOnly) {
        // ES's negation-only query ("-foo") is match_all minus the
        // exclusions: the candidate base is EVERY live doc — one
        // id-column stored read, the corpus-scan cost ES itself pays
        // for this shape (stated; every other shape stays
        // postings-bounded)
        val stored = storedFrame(spark, root, segs)
          .select("doc_id", "seg")
        liveDocs(spark, root, segs)(stored).select("doc_id").distinct()
      } else
        ((if (should2.nonEmpty) Seq(withAny(should2)) else Seq.empty) ++
          pq.shouldPhrases.map(phraseDocs))
          .reduce(_ unionByName _).distinct()
    val notParts =
      (if (mustNot2.nonEmpty) Seq(withAny(mustNot2)) else Seq.empty) ++
        pq.mustNotPhrases.map(phraseDocs)
    val cand = notParts.foldLeft(cand0)((c, n) =>
      c.join(n, Seq("doc_id"), "left_anti"))
    val scored =
      if (scoring.nonEmpty) scoredHitsFor(spark, root, nb, segs, scoring)
      else Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    cand.join(scored, Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0d)))
      .withColumn("n_terms_hit",
        coalesce(col("n_terms_hit"), lit(0L)))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The mustache-lite renderer behind [[searchTemplate]]:
    * `{{param}}` slots fill from the map, unknown slots render empty
    * (mustache's rule, which is what makes ES templates omit optional
    * clauses). Sections/partials/logic are NOT implemented — ES
    * embeds full mustache; this is the parameter-substitution subset,
    * stated loudly. */
  private[operators] def renderTemplate(template: String,
      params: Map[String, String]): String =
    """\{\{([A-Za-z0-9_]+)\}\}""".r.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        params.getOrElse(m.group(1), "")))

  /** search_template — ES's `_search/template` (saved parameterized
    * queries — the API behind every "saved search" feature): the
    * template renders with the params ([[renderTemplate]]) and the
    * result executes as a [[simpleQueryString]], so one stored string
    * serves arbitrarily many parameterizations on the structured
    * machinery. Output: [[simpleQueryString]]'s (doc_id, score,
    * n_terms_hit) top-k. */
  def searchTemplate(spark: SparkSession, rootDir: String,
                     template: String, params: Map[String, String],
                     k: Int = 10): DataFrame =
    simpleQueryString(spark, rootDir, renderTemplate(template, params),
      k)

  /** match_bool_prefix — ES's search-as-you-type companion to
    * `match_phrase_prefix`: the typed words become bool SHOULD term
    * clauses (any may match, anywhere — no adjacency) and the final
    * partial word a prefix clause. Leading terms score the exact
    * tf·(N/df) sum; the prefix clause contributes Lucene's
    * constant-score rewrite (flat 1.0 — multi-term queries don't
    * idf-weight their expansions by default). The prefix expands over
    * the vocabulary-sized dictionaries under `maxExpansions` (term
    * order, ES's cap) and only the matched terms' postings are read.
    * Output: (doc_id, score, n_terms_hit) — n_terms_hit counts
    * LEADING terms — top-k by (score desc, doc_id). */
  def matchBoolPrefix(spark: SparkSession, rootDir: String,
                      leading: Seq[String], prefix: String, k: Int,
                      maxExpansions: Int = 50): DataFrame = {
    require(prefix.nonEmpty, "matchBoolPrefix needs a prefix")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val lead2 = qTerms(root, leading)
    val (nb, segs, _) = readManifest(root)
    val px = Analyzer.normalize(readAnalyzer(root), prefix)
    val expansions = dictFrame(spark, root, segs)
      .filter(col("term").startsWith(px))
      .select("term").distinct()
      .orderBy("term").limit(maxExpansions)
      .as[String].collect().toSeq.sorted
    val scored =
      if (lead2.nonEmpty) scoredHitsFor(spark, root, nb, segs, lead2)
      else Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_hit")
    val prefixDocs =
      if (expansions.isEmpty)
        Seq.empty[(Long, Boolean)].toDF("doc_id", "pfx")
      else livePostings(spark, root, segs, expansions, nb)
        .select("doc_id").distinct().withColumn("pfx", lit(true))
    scored.join(prefixDocs, Seq("doc_id"), "full_outer")
      .withColumn("score",
        coalesce(col("score"), lit(0.0d)) +
          when(coalesce(col("pfx"), lit(false)), lit(1.0d))
            .otherwise(lit(0.0d)))
      .withColumn("n_terms_hit",
        coalesce(col("n_terms_hit"), lit(0L)))
      .select("doc_id", "score", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** significant_text — ES's free-text twin of [[significantTerms]],
    * with the two knobs that make it usable on real corpora: a
    * SAMPLER (only the first `sampleSize` hit docs, by doc_id — ES
    * samples the top-scoring per shard; a deterministic engine
    * samples a deterministic set, stated plainly) and
    * `filter_duplicate_text` (near-identical boilerplate must not
    * vote twice: duplicate texts collapse to one representative —
    * exact-digest dedup here, ES deduplicates on a sequence-of-
    * tokens signature). Foreground counts come from the sampled,
    * deduped docs' postings; background df from the vocabulary-sized
    * dictionaries; JLH scoring and min_doc_count as in
    * [[significantTerms]]. Cost honesty: the foreground pass reads
    * the SAMPLE's full term rows (sample-bounded, which is the whole
    * point of the sampler at 100 TB) plus one digest read of the
    * sample's stored text. Output: (term, fg_count, bg_count,
    * score), top-k by (score desc, term). */
  def significantText(spark: SparkSession, rootDir: String,
                      terms: Seq[String], kTerms: Int,
                      sampleSize: Int, minDocCount: Long = 3L)
      : DataFrame = {
    require(terms.nonEmpty, "significantText needs query terms")
    require(sampleSize >= 1, s"sampleSize must be >= 1: $sampleSize")
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val p = prunedPostings(spark, root, segs, qTerms(root, terms), nb)
    val keepLive = liveDocs(spark, root, segs)
    val hits = keepLive(p).select("doc_id").distinct()
      .orderBy("doc_id").limit(sampleSize)
    val liveRows = keepLive(storedFrame(spark, root, segs))
    // filter_duplicate_text: one representative (lowest id) per
    // exact text digest within the sample
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(asc("doc_id"))
    val sampled = liveRows
      .join(hits, Seq("doc_id"), "left_semi")
      .withColumn("digest", md5(col("text")))
      .withColumn("rk", row_number().over(wDup))
      .filter(col("rk") === 1)
      .select("doc_id")
    // the deduped sample is request-sized (≤ sampleSize rows), and
    // the old shape computed its stored-scan + dedup-window subtree
    // TWICE (the fg semi-join and the size aggregate). When it fits
    // the id-pushdown ceiling (updateByQuery's IN-list precedent)
    // the ids collect ONCE — bounded by the caller's sampleSize, the
    // request-sized-collect discipline — and the sample size becomes
    // a literal; a larger request keeps the old lazy two-reference
    // shape (r18 optimization).
    val idCeiling = spark.conf
      .getOption("graft.updateByQuery.idPushdownMaxRows")
      .map(_.toInt).getOrElse(10000)
    val (fgDocs, fcnt) =
      if (sampleSize <= idCeiling) {
        val ids = sampled.limit(sampleSize)
          .collect().map(_.getLong(0)).toSeq
        val f = segmentsRead(spark, root, segs)
          .select("term", "doc_id", "seg")
          .filter(if (ids.isEmpty) lit(false)
            else col("doc_id").isin(ids: _*))
        (f, lit(ids.size.toDouble))
      } else {
        val f = segmentsRead(spark, root, segs)
          .select("term", "doc_id", "seg")
          .join(sampled, Seq("doc_id"), "left_semi")
        (f, col("fcnt"))
      }
    val fg = fgDocs
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("fg_count"))
    val bg = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("bg_count"))
    val joined =
      if (sampleSize <= idCeiling) fg.join(bg, "term")
      else fg.join(bg, "term").crossJoin(broadcast(
        sampled.agg(count(lit(1)).cast("double").as("fcnt"))))
    joined
      .withColumn("fgp", col("fg_count").cast("double") / fcnt)
      .withColumn("bgp",
        col("bg_count").cast("double") / lit(nDocs).cast("double"))
      .withColumn("score",
        (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
      .filter(col("fg_count") >= lit(minDocCount) &&
        col("score") > lit(0.0d))
      .select("term", "fg_count", "bg_count", "score")
      .orderBy(desc("score"), asc("term"))
      .limit(kTerms)
  }

  /** Federated search across several indices — ES's multi-index
    * request (`GET /idx1,idx2/_search`) under `dfs_query_then_fetch`
    * statistics: document frequencies and N are GLOBAL sums over all
    * queried indices, so a document scores identically wherever it is
    * indexed and the federation is provably lossless — searching two
    * indices holding a corpus split equals searching one index
    * holding the whole corpus (the property the oracle pins). Each
    * index keeps its own bucket count, manifest, and tombstones
    * (applied only to its own segments, per the usual phases: df/N
    * pre-tombstone, hits post). Per-index postings arrive
    * bucket-pruned; the union is queried-lists-sized. Output:
    * (idx, doc_id, score, n_terms_hit), top-k by
    * (score desc, idx, doc_id) — ids are namespaced by index, ES's
    * (_index, _id) identity. */
  def multiSearch(spark: SparkSession, indices: Seq[(String, String)],
                  terms: Seq[String], k: Int): DataFrame = {
    require(indices.nonEmpty, "multiSearch needs at least one index")
    require(indices.map(_._1).distinct.size == indices.size,
      "index names must be unique")
    // federation analyzes ONCE with the (enforced-uniform) family
    // chain — the lossless global-stats contract requires it, and a
    // rollover family always satisfies it ([[rollover]]/[[snapshot]]/
    // [[reindex]] inherit the header). A mixed federation fails
    // LOUDLY here instead of silently mis-analyzing the other
    // members' queries ([[requireUniformAnalyzer]]).
    requireUniformAnalyzer(indices)
    multiSearchScored(spark, indices, terms)
      .orderBy(desc("score"), asc("idx"), asc("doc_id"))
      .limit(k)
  }

  /** [[multiSearch]]'s scored hit set WITHOUT the top-k — the shared
    * body [[multiSearchBoosted]] re-ranks. Callers enforce the
    * uniform-analyzer precondition first. */
  private def multiSearchScored(spark: SparkSession,
                                indices: Seq[(String, String)],
                                terms: Seq[String]): DataFrame = {
    val qs = qTerms(new java.io.File(indices.head._2), terms)
    val perIndex = indices.map { case (name, rootDir) =>
      val root = new java.io.File(rootDir)
      val (nb, segs, _) = readManifest(root)
      val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
      val p = prunedPostings(spark, root, segs, qs, nb)
      val live = liveDocs(spark, root, segs)(p)
      (nDocs, p, live.withColumn("idx", lit(name)))
    }
    val nTotal = perIndex.map(_._1).sum
    val dfreq = perIndex.map(_._2).reduce(_ unionByName _)
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val liveAll = perIndex.map(_._3).reduce(_ unionByName _)
    scoreLive(liveAll, dfreq, qs, nTotal,
      keys = Seq("idx", "doc_id"))
  }

  /** Federated search with PER-INDEX BOOSTS — ES's `indices_boost`
    * (".. hits coming from the newer index matter more .."): exactly
    * [[multiSearch]]'s lossless global-stats scoring, then each
    * hit's relevance multiplies by its index's boost factor BEFORE
    * the global top-k — one broadcast literal join and one double
    * multiplication, deterministic cross-engine, so the boosted
    * federation stays on the oracle surface. The uniform-analyzer
    * precondition is [[multiSearch]]'s. Output: (idx, doc_id,
    * score, n_terms_hit), top-k by (score desc, idx, doc_id). */
  def multiSearchBoosted(spark: SparkSession,
                         indices: Seq[(String, String, Double)],
                         terms: Seq[String], k: Int): DataFrame = {
    require(indices.nonEmpty, "multiSearchBoosted needs an index")
    require(indices.forall(_._3 > 0.0),
      "index boosts must be positive")
    import spark.implicits._
    val plain = indices.map { case (n, dir, _) => (n, dir) }
    require(plain.map(_._1).distinct.size == plain.size,
      "index names must be unique")
    requireUniformAnalyzer(plain)
    val boosts = indices.map { case (n, _, b) => (n, b) }
      .toDF("idx", "boost")
    multiSearchScored(spark, plain, terms)
      .join(broadcast(boosts), "idx")
      .withColumn("score", col("score") * col("boost"))
      .select("idx", "doc_id", "score", "n_terms_hit")
      .orderBy(desc("score"), asc("idx"), asc("doc_id"))
      .limit(k)
  }

  /** Federated search with PER-INDEX ANALYSIS — ES's exact semantics
    * for a HETEROGENEOUS multi-index request (each index analyzes the
    * query with its OWN chain; `dfs_query_then_fetch` then pools term
    * statistics BY TERM STRING across every member's dictionary):
    * the ES-exact generalization past [[multiSearch]]'s enforced
    * uniform contract. The two entry points are deliberately
    * separate — [[multiSearch]]'s lossless-split guarantee
    * ("federation ≡ one combined index") is only well-defined under
    * one shared chain (a combined index has ONE analyzer) and its
    * `require` keeps that contract loud; THIS call is for
    * federations that genuinely mix chains, where a query literal
    * may reach one member as a stem and another verbatim.
    *
    * Statistics: `N` is the family total; each term's df sums over
    * ALL members' vocabulary-sized dictionaries (ES pools stats for
    * a term from every queried index, whether or not that index's
    * analysis of the query produced it). Scoring is the exact
    * tf·(N/df) pivot over the UNION of the per-index analyzed term
    * sets in one fixed sorted order — each (idx, doc) group only
    * holds its own index's matched terms (per-index pruned postings
    * carry only that index's analyzed terms), so the global pivot
    * stays per-index-correct while double addition order is pinned
    * cross-engine ([[multiQuerySearch]]'s argument). Output:
    * (idx, doc_id, score, n_terms_hit), top-k by
    * (score desc, idx, doc_id). */
  def multiSearchPerIndex(spark: SparkSession,
                          indices: Seq[(String, String)],
                          terms: Seq[String], k: Int): DataFrame = {
    require(indices.nonEmpty, "multiSearchPerIndex needs an index")
    require(indices.map(_._1).distinct.size == indices.size,
      "index names must be unique")
    import spark.implicits._
    val perIndex = indices.map { case (name, rootDir) =>
      val root = new java.io.File(rootDir)
      (name, root, qTerms(root, terms))
    }
    val allTerms = perIndex.flatMap(_._3).distinct.sorted
    if (allTerms.isEmpty)
      return Seq.empty[(String, Long, Double, Long)]
        .toDF("idx", "doc_id", "score", "n_terms_hit")
    val parts = perIndex.map { case (name, root, qs) =>
      val (nb, segs, _) = readManifest(root)
      val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
      val dict = dictFrame(spark, root, segs)
        .filter(col("term").isin(allTerms: _*))
        .select("term", "doc_freq")
      val live =
        if (qs.isEmpty)
          None
        else {
          val p = prunedPostings(spark, root, segs, qs, nb)
            .filter(col("term").isin(qs: _*))
          Some(liveDocs(spark, root, segs)(p).withColumn("idx", lit(name)))
        }
      (nDocs, dict, live)
    }
    val nTotal = parts.map(_._1).sum
    // df BY TERM STRING across every member's dictionary — the
    // vocabulary-sized stats phase, postings never read for it
    val dfreq = parts.map(_._2).reduce(_ unionByName _)
      .groupBy("term").agg(sum("doc_freq").as("doc_freq"))
    val liveAll = parts.flatMap(_._3).reduce(_ unionByName _)
    scoreLive(liveAll, dfreq, allTerms, nTotal,
      keys = Seq("idx", "doc_id"))
      .orderBy(desc("score"), asc("idx"), asc("doc_id"))
      .limit(k)
  }

  /** Default per-chunk pivot-vocabulary bound for
    * [[multiQuerySearch]]: each chunk's score pivot emits one
    * aggregate column per distinct term, and an unbounded batch
    * vocabulary would push thousands of expressions into one
    * aggregate — past Janino's method-size limits and codegen's
    * usefulness long before ES-scale batches. 64 keeps a chunk's
    * aggregate comfortably inside whole-stage codegen. */
  private[operators] val MsearchPivotVocabCap = 64

  /** Batched multi-query search — ES's `_msearch` (one request, many
    * searches). The batch splits greedily (in request order) into
    * CHUNKS whose distinct-term vocabulary stays within
    * `pivotVocabCap`; within a chunk, queries answer from ONE
    * bucket-pruned postings scan of the chunk's term union. The
    * honest amortization: postings reads amortize PER CHUNK (a 10^4-
    * query batch runs ~vocabulary/cap bounded-width scans, each
    * shared by its chunk's queries; a term used by two chunks is read
    * twice), while the `dfs` statistics phase runs ONCE for the whole
    * request over the VOCABULARY-sized term dictionaries — postings
    * are never read for df (per-segment dictionary doc_freq sums
    * equal the postings row counts exactly, so the scores are
    * unchanged). A query with more terms than the cap forms its own
    * chunk — its pivot width is the query's own size, which is the
    * floor any engine pays.
    *
    * Scoring is [[search]]'s exact tf·(N/df) with the fixed-order
    * pivot over the CHUNK's sorted term list (a (query, doc) group
    * only holds the query's own matched terms — the broadcast
    * (query_id, term) membership join restricts rows — so the pivot
    * stays per-query-correct; a query's matched terms keep the same
    * relative order under any chunking and the absent terms add
    * exact 0.0, so scores are bit-identical to the unchunked pivot).
    * Per-query top-k is BOUNDED before ranking: a local
    * (query_id, shuffle-partition) row_number keeps at most k rows
    * per query per partition, then the per-query window numbers the
    * ≤ k·partitions survivors — a hot term's corpus-sized hit set
    * never funnels through one window partition. A query whose terms
    * all analyze away (or miss the index) returns no rows — ES's
    * empty-hits response. Output: (query_id, doc_id, score,
    * n_terms_hit, rank), (query_id, rank)-ascending. */
  def multiQuerySearch(spark: SparkSession, rootDir: String,
                       queries: Seq[(String, Seq[String])],
                       k: Int,
                       pivotVocabCap: Int = MsearchPivotVocabCap)
      : DataFrame = {
    require(queries.nonEmpty, "multiQuerySearch needs queries")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be unique")
    require(pivotVocabCap >= 1,
      s"pivotVocabCap must be >= 1: $pivotVocabCap")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val analyzed = queries.map { case (qid, ts) =>
      qid -> qTerms(root, ts) }
    val allTerms = analyzed.flatMap(_._2).distinct.sorted
    if (allTerms.isEmpty)
      return Seq.empty[(String, Long, Double, Long, Long)]
        .toDF("query_id", "doc_id", "score", "n_terms_hit", "rank")
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    // the request's ONE dfs phase: df by term over the vocabulary-
    // sized dictionaries, shared by every chunk
    val dfreq = dictFrame(spark, root, segs)
      .filter(col("term").isin(allTerms: _*))
      .groupBy("term").agg(sum("doc_freq").as("doc_freq"))
    // greedy chunking in request order under the vocabulary cap
    val chunks = analyzed.foldLeft(
      Vector.empty[(Vector[(String, Seq[String])], Set[String])]) {
      case (acc, q @ (_, ts)) =>
        acc.lastOption match {
          case Some((qs, vocab))
            if (vocab ++ ts).size <= pivotVocabCap =>
            acc.init :+ (qs :+ q, vocab ++ ts)
          case _ => acc :+ (Vector(q), ts.toSet)
        }
    }.map(_._1)
    val perChunk = chunks.map { chunk =>
      val terms = chunk.flatMap(_._2).distinct.sorted
      val p = prunedPostings(spark, root, segs, terms, nb)
        .filter(col("term").isin(terms: _*))
      val live = liveDocs(spark, root, segs)(p)
      val membership = chunk
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      val contribs = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === lit(t),
          col("tf").cast("double") *
            (lit(nDocs).cast("double") /
              col("doc_freq").cast("double")))
          .otherwise(lit(0.0d))).as(s"c_$i")
      }
      val score = terms.indices.map(i => col(s"c_$i")).reduce(_ + _)
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "pid")
        .orderBy(desc("score"), asc("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
      live.join(dfreq, "term")
        .join(broadcast(membership), Seq("term"))
        .groupBy("query_id", "doc_id")
        .agg(contribs.head,
          contribs.tail :+ count(lit(1)).as("n_terms_hit"): _*)
        .withColumn("score", score)
        // bound BEFORE ranking: per-partition top-k is a superset of
        // the per-query top-k under the same total order
        .withColumn("pid", spark_partition_id())
        .withColumn("lr", row_number().over(wl))
        .filter(col("lr") <= k)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
    }
    perChunk.reduce(_ unionByName _).orderBy("query_id", "rank")
  }

  /** Top-k term search with MAXSCORE dynamic pruning — Lucene's
    * other serving-side half (WAND/MaxScore: Lucene keeps per-block
    * max impacts beside its postings and skips documents that cannot
    * reach the current threshold), adapted to the batch two-phase
    * shape, EXACT by construction:
    *
    *  1. per-term score CEILINGS come from the dictionary alone
    *     (`ub_t = max_tf_t · N/df_t` — no posting read), a
    *     query-bounded collect like Lucene's terms-index lookup;
    *  2. phase 1 fully scores only the HIGHEST-ceiling term's
    *     documents; the k-th score there is a certified LOWER bound
    *     `θ` on the final k-th score (adding candidates only raises
    *     a top-k threshold);
    *  3. terms are split driver-side: the maximal low-ceiling set
    *     whose summed ceilings stay below `θ` (with a 1e-9 relative
    *     slack absorbing double rounding — ceilings err CONSERVATIVE)
    *     is NON-ESSENTIAL; a document matching no essential term has
    *     score ≤ that sum < θ and provably cannot enter the top-k
    *     (strict inequality ⇒ it cannot even tie), so
    *  4. phase 2 scores only documents matching ≥ 1 essential term —
    *     the common-terms-only documents (the overwhelming majority
    *     under a Zipfian vocabulary when the query mixes rare and
    *     common terms) are never aggregated or ranked.
    *
    * The highest-ceiling term is always essential (its achieved `θ`
    * cannot exceed the all-term ceiling sum), so phase 2's candidates
    * cover phase 1's; with no threshold (fewer than k phase-1 docs)
    * every term is essential and the search degrades to [[search]]'s
    * exhaustive plan. Results are EXACTLY [[search]]'s — same exact
    * arithmetic, same (score desc, doc_id) order — so the DuckDB
    * oracle for the exhaustive ranking certifies the pruned path
    * end-to-end (q178). Statistics follow the usual Lucene phases
    * (df/N pre-tombstone, hits post-tombstone).
    *
    * Scale shape: the dictionary consult is vocabulary-bounded, phase
    * 1 reads one posting list (+ the candidates' rows of the others,
    * semi-joined), phase 2 reads the essential lists and only their
    * documents' postings — a query mixing one rare term with common
    * ones goes from scoring every common-term document to scoring the
    * rare list's neighborhood, which is why every production engine
    * runs this. Output: (doc_id, score, n_terms_hit), top-k.
    */
  def maxScoreSearch(spark: SparkSession, rootDir: String,
                     terms: Seq[String], k: Int): DataFrame =
    maxScoreSearchWithPlan(spark, rootDir, terms, k)._1

  /** [[maxScoreSearch]] plus its pruning decision — (result,
    * essential terms, θ) — so specs can assert the split, which is
    * invisible in the (provably identical) output. */
  private[operators] def maxScoreSearchWithPlan(spark: SparkSession,
      rootDir: String, terms: Seq[String],
      k: Int): (DataFrame, Seq[String], Double, () => Long) = {
    require(terms.nonEmpty, "maxScoreSearch needs at least one term")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, terms)
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    // dictionary consult: (df, max_tf) per present query term
    val stats = dictFrame(spark, root, segs)
      .filter(col("term").isin(qs: _*))
      .groupBy("term").agg(sum("doc_freq").as("df"),
        max("max_tf").as("mtf"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (stats.isEmpty) {
      val out = search(spark, rootDir, terms, k)
      return (out, Seq.empty, Double.NegativeInfinity,
        () => out.count())
    }
    val ub = stats.map { case (t, df, mtf) =>
      t -> mtf.toDouble * (nDocs.toDouble / df.toDouble) }.toMap
    val present = stats.map(_._1).toSeq.sorted
    val topTerm = present.maxBy(t => (ub(t), t))
    val p = prunedPostings(spark, root, segs, present, nb)
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    // phase 1: the top-ceiling term's docs, fully scored → θ
    val cand1 = live.filter(col("term") === lit(topTerm))
      .select("doc_id").distinct()
    val kth = scoreLive(live.join(cand1, Seq("doc_id"), "left_semi"),
        dfreq, qs, nDocs)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
      .agg(min("score").as("kth"), count(lit(1)).as("n"))
      .collect().head
    val theta =
      if (kth.getLong(1) < k) Double.NegativeInfinity
      else kth.getDouble(0)
    // essential split (driver math over the query's terms)
    var acc = 0.0
    val nonEss = scala.collection.mutable.Set[String]()
    present.sortBy(t => (ub(t), t)).foreach { t =>
      if ((acc + ub(t)) * (1 + 1e-9) < theta) { acc += ub(t); nonEss += t }
    }
    val essential = present.filterNot(nonEss)
    // phase 2: only documents matching an essential term are scored
    val cand = live.filter(col("term").isin(essential: _*))
      .select("doc_id").distinct()
    // BLOCK-MAX refinement (Lucene's block-max MaxScore tier): a
    // candidate in block b has score ≤ Σ_t bmax(t,b)·N/df(t) summed
    // over the query terms WITH POSTINGS IN b (terms absent from the
    // block contribute exactly 0, so the sum is a certified ceiling,
    // strictly tighter than the per-term one) — a block whose ceiling
    // cannot reach θ drops all its candidates before any aggregation.
    // The impacts read is query-terms-sized; None (a pre-impacts
    // segment layout) skips the refinement, exactness untouched.
    val cand2 = impactsFrame(spark, root, segs) match {
      case Some(imp) if theta > Double.NegativeInfinity =>
        val dfs = stats.toSeq.map { case (t, df, _) => (t, df) }
          .toDF("term", "df")
        val keepBlocks = imp.filter(col("term").isin(present: _*))
          .join(broadcast(dfs), "term")
          .withColumn("ub", col("max_tf").cast("double") *
            (lit(nDocs).cast("double") / col("df").cast("double")))
          .groupBy("blk").agg(sum("ub").as("bsum"))
          // the same conservative slack as the essential split: keep
          // unless the ceiling is STRICTLY below θ beyond rounding
          .filter(col("bsum") * lit(1 + 1e-9) >= lit(theta))
          .select("blk")
        cand.withColumn("blk",
          floor(col("doc_id") / lit(ImpactBlockSize)).cast("long"))
          .join(broadcast(keepBlocks), Seq("blk"), "left_semi")
          .select("doc_id")
      case _ => cand
    }
    (scoreLive(live.join(cand2, Seq("doc_id"), "left_semi"),
        dfreq, qs, nDocs)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k), essential, theta, () => cand2.count())
  }

  /** Multi-term BM25 top-k over the segmented index — THE production
    * serving call, now the WAND/MaxScore-pruned path by default
    * (Lucene serves BM25 through MaxScore; the pruned plan is
    * provably bit-identical to the exhaustive one — the spec and the
    * property suite pin it, and q215's pair certificate puts the
    * pruned ORDER on the cross-engine hash surface). See
    * [[bm25MaxScoreTopK]] for the pruning argument and
    * [[bm25ExhaustiveTopK]] for the exhaustive twin it is certified
    * against. Output: (doc_id, score, n_terms_hit). */
  def bm25TopK(spark: SparkSession, rootDir: String,
               terms: Seq[String], k: Int, k1: Double = 1.2,
               b: Double = 0.75): DataFrame =
    bm25MaxScoreTopK(spark, rootDir, terms, k, k1, b)

  /** The EXHAUSTIVE multi-term BM25 top-k — every matching posting
    * row scored — under Lucene's statistics phases: N and avg_dl from
    * the manifest headers, df aggregated from the (still
    * tombstone-bearing) pruned postings, per-doc saturated
    * contributions summed over the LIVE postings only, then a
    * TakeOrderedAndProject top-k. Scores are bit-identical to the
    * ad-hoc [[Search.bm25]] on an equivalent corpus (the spec pins a
    * one-segment index against it); the `log` idf keeps this off the
    * DuckDB-hash surface, like every bm25 scorer — the segment tier's
    * oracled BM25 entry is the single-term rank certificate
    * ([[bm25RankAudit]], q167). Kept as [[bm25TopK]]'s certified
    * reference twin (the pruned path's empty-dictionary degradation
    * also lands here). Output: (doc_id, score, n_terms_hit).
    */
  private[graft] def bm25ExhaustiveTopK(spark: SparkSession,
      rootDir: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, terms)
    val (nb, segs, gen) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val totalLen = segs.filter(_.kind == "seg").map(_.totalLen).sum
    val p = prunedPostings(spark, root, segs, qs, nb)
      .filter(col("term").isin(qs: _*))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    bm25ScoreBody(live, dfreq, nDocs, totalLen, k1, b)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The BM25 scoring body shared by [[bm25TopK]] and
    * [[bm25MaxScoreTopK]] — ONE expression tree so the pruned path is
    * bit-identical to the exhaustive one by construction. */
  private def bm25ScoreBody(live: DataFrame, dfreq: DataFrame,
      nDocs: Long, totalLen: Long, k1: Double,
      b: Double): DataFrame =
    bm25Contrib(live.join(dfreq, "term"), nDocs, totalLen, k1, b)
      .groupBy("doc_id")
      .agg(sum("contrib").as("score"), count(lit(1)).as("n_terms_hit"))

  /** Per-posting `idf` and saturated `contrib` columns over postings
    * that carry (tf, dl, doc_freq) — the one BM25 expression every
    * segment-tier scorer evaluates, so [[bm25RankAudit]]'s single-term
    * score is [[bm25ScoreBody]]'s per-doc sum bit for bit. */
  private def bm25Contrib(posts: DataFrame, nDocs: Long, totalLen: Long,
      k1: Double, b: Double): DataFrame =
    posts
      .withColumn("avg_dl",
        lit(totalLen).cast("double") / lit(nDocs).cast("double"))
      // cast n_docs to double FIRST: bigint - bigint + 0.5 would run in
      // DECIMAL (SQL 0.5 is a decimal literal) and round the idf
      // differently from the ad-hoc [[Search.bm25]], whose n_docs
      // enters as double
      .withColumn("idf", expr(
        s"log((cast(${nDocs}L as double) - doc_freq + 0.5) / " +
          "(doc_freq + 0.5) + 1.0)"))
      .withColumn("contrib", expr(
        s"idf * (tf * ($k1 + 1.0)) / " +
          s"(tf + $k1 * (1.0 - $b + $b * dl / avg_dl))"))

  /** BM25 top-k with WAND/MaxScore dynamic pruning — the PRODUCTION
    * scorer under [[maxScoreSearch]]'s two-phase exactness argument,
    * which is what Lucene actually ships (its MaxScore runs on BM25
    * impacts, not on raw tf·idf):
    *
    *  1. per-term ceilings need no postings: each saturated
    *     contribution is strictly below `ub_t = idf_t · (k1+1)`
    *     (the classic WAND upper bound — the saturation limit as
    *     tf → ∞), idf from the dictionary's df;
    *  2. phase 1 fully scores the top-ceiling term's documents; the
    *     k-th score is a certified lower bound θ;
    *  3. the maximal low-ceiling term set with Σ ub < θ (1e-9
    *     conservative slack) is non-essential — a doc matching none
    *     of the essential terms scores strictly below θ;
    *  4. BLOCK-MAX refinement: within a posting block the
    *     contribution is bounded by
    *     `idf · bmax·(k1+1) / (bmax + k1·(1−b))` (contribution is
    *     increasing in tf ≤ bmax and decreasing in dl ≥ 0 — dropping
    *     the dl term only raises the bound), so candidate docs in
    *     blocks whose summed ceilings miss θ drop before scoring —
    *     Lucene's block-max WAND, exactly.
    *
    * Results are [[bm25ExhaustiveTopK]]'s bit-for-bit (shared
    * scoring body, provable skip conditions — the spec pins
    * equality; q215's equal-df pair certificate pins the pruned
    * ORDER cross-engine), which is what makes this the safe DEFAULT
    * behind [[bm25TopK]]. Output: (doc_id, score, n_terms_hit),
    * top-k. */
  def bm25MaxScoreTopK(spark: SparkSession, rootDir: String,
                       terms: Seq[String], k: Int, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame =
    bm25MaxScoreWithPlan(spark, rootDir, terms, k, k1, b)._1

  /** [[bm25MaxScoreTopK]] plus its pruning decision — (result,
    * essential terms, θ, scored-doc counter), the spec seam. */
  private[operators] def bm25MaxScoreWithPlan(spark: SparkSession,
      rootDir: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): (DataFrame, Seq[String], Double, () => Long) = {
    require(terms.nonEmpty, "bm25MaxScoreTopK needs at least one term")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, terms)
    // single-term short-circuit (Lucene's too — MaxScore needs >= 2
    // terms): the lone term is always essential and phase 2 would
    // score its whole posting list anyway, so the two driver-blocking
    // pruning collects (dictionary stats, phase-1 θ) buy nothing —
    // serve the one-job exhaustive plan
    if (qs.size <= 1) {
      val out = bm25ExhaustiveTopK(spark, rootDir, terms, k, k1, b)
      return (out, qs, Double.NegativeInfinity, () => out.count())
    }
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val totalLen = segs.filter(_.kind == "seg").map(_.totalLen).sum
    val stats = dictFrame(spark, root, segs)
      .filter(col("term").isin(qs: _*))
      .groupBy("term").agg(sum("doc_freq").as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (stats.isEmpty) {
      val out = bm25ExhaustiveTopK(spark, rootDir, terms, k, k1, b)
      return (out, Seq.empty, Double.NegativeInfinity,
        () => out.count())
    }
    def idfOf(df: Long): Double =
      math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    val ub = stats.map { case (t, df) =>
      t -> idfOf(df) * (k1 + 1.0) }.toMap
    val present = stats.map(_._1).toSeq.sorted
    val topTerm = present.maxBy(t => (ub(t), t))
    val p = prunedPostings(spark, root, segs, present, nb)
      .filter(col("term").isin(present: _*))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    val kth = bm25ScoreBody(
        live.join(live.filter(col("term") === lit(topTerm))
          .select("doc_id").distinct(), Seq("doc_id"), "left_semi"),
        dfreq, nDocs, totalLen, k1, b)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
      .agg(min("score").as("kth"), count(lit(1)).as("n"))
      .collect().head
    val theta =
      if (kth.getLong(1) < k) Double.NegativeInfinity
      else kth.getDouble(0)
    var acc = 0.0
    val nonEss = scala.collection.mutable.Set[String]()
    present.sortBy(t => (ub(t), t)).foreach { t =>
      if ((acc + ub(t)) * (1 + 1e-9) < theta) { acc += ub(t); nonEss += t }
    }
    val essential = present.filterNot(nonEss)
    val cand = live.filter(col("term").isin(essential: _*))
      .select("doc_id").distinct()
    val cand2 = impactsFrame(spark, root, segs) match {
      case Some(imp) if theta > Double.NegativeInfinity =>
        val idfs = stats.toSeq.map { case (t, df) => (t, idfOf(df)) }
          .toDF("term", "t_idf")
        val keepBlocks = imp.filter(col("term").isin(present: _*))
          .join(broadcast(idfs), "term")
          .withColumn("ubb", col("t_idf") *
            (col("max_tf").cast("double") * lit(k1 + 1.0)) /
            (col("max_tf").cast("double") + lit(k1 * (1.0 - b))))
          .groupBy("blk").agg(sum("ubb").as("bsum"))
          .filter(col("bsum") * lit(1 + 1e-9) >= lit(theta))
          .select("blk")
        cand.withColumn("blk",
          floor(col("doc_id") / lit(ImpactBlockSize)).cast("long"))
          .join(broadcast(keepBlocks), Seq("blk"), "left_semi")
          .select("doc_id")
      case _ => cand
    }
    (bm25ScoreBody(live.join(cand2, Seq("doc_id"), "left_semi"),
        dfreq, nDocs, totalLen, k1, b)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k), essential, theta, () => cand2.count())
  }

  /** The WAND-pruned BM25 ranking with an exact cross-engine rank
    * certificate — [[Search.bm25PairRankAudit]]'s equal-df-pair
    * derivation served from the SEGMENTED index through
    * [[bm25MaxScoreTopK]]'s pruned path: the pair (largest df shared
    * by ≥ 2 dictionary terms, two smallest terms — the same
    * deterministic SQL-expressible rule) is ranked by the PRUNED
    * production scorer, and the emitted rank certifies against the
    * exact integer ratio (tf_a·D_b + tf_b·D_a)/(D_a·D_b) — so the
    * DuckDB hash equality proves the dynamic pruning returned
    * exactly the exhaustive top-k, order included, under Lucene's
    * statistics phases (df/N/totalLen pre-tombstone, hits post).
    * Output schema of [[Search.bm25PairRankAudit]]. */
  def bm25WandAudit(spark: SparkSession, rootDir: String, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 == 1.2 && b == 0.75,
      "the exact rank_key derivation hardcodes k1=1.2, b=0.75 " +
        "(rationals 3/10, 9/10); generalize the integer key to change them")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val totalLen = segs.filter(_.kind == "seg").map(_.totalLen).sum
    // the equal-df pair, chosen from the vocabulary-sized dictionary
    // (pre-tombstone df — the stats phase): 2-row bounded collect
    val dict = dictFrame(spark, root, segs)
      .groupBy("term").agg(sum("doc_freq").as("df"))
    val shared = dict.withColumn("nshare",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("df")))
      .filter(col("nshare") >= 2)
    val pair = shared
      .join(broadcast(shared.agg(max("df").as("dstar"))),
        col("df") === col("dstar"))
      .orderBy("term").limit(2)
      .select("term", "df").as[(String, Long)].collect().sortBy(_._1)
    require(pair.length == 2, "no equal-df pair in the dictionary")
    val (ta, tb) = (pair(0)._1, pair(1)._1)
    val idfShared = math.log(
      (nDocs.toDouble - pair(0)._2 + 0.5) / (pair(0)._2 + 0.5) + 1.0)
    // the PRUNED production ranking on the pair
    val pruned = bm25MaxScoreTopK(spark, rootDir, Seq(ta, tb), k, k1, b)
    // exact integers per live doc for the certificate
    val p = prunedPostings(spark, root, segs, Seq(ta, tb), nb)
      .filter(col("term").isin(ta, tb))
    val live = liveDocs(spark, root, segs)(p)
    val tfp = live.groupBy("doc_id", "dl").agg(
      sum(when(col("term") === lit(ta), col("tf")).otherwise(lit(0L)))
        .as("tf_a"),
      sum(when(col("term") === lit(tb), col("tf")).otherwise(lit(0L)))
        .as("tf_b"))
    // certificate key on the FULL pair hit set (doubles with the
    // PRODUCT envelope guard — the [[Search.bm25PairRankAudit]]
    // posture exactly), so the independent key-ordered top-k can
    // witness MEMBERSHIP, not just within-page numbering
    val keyed = tfp
      .withColumn("term_a", lit(ta))
      .withColumn("term_b", lit(tb))
      .withColumn("da",
        lit(10.0d) * lit(totalLen.toDouble) *
          col("tf_a").cast("double") +
          lit(3.0d) * lit(totalLen.toDouble) +
          lit(9.0d) * lit(nDocs.toDouble) * col("dl").cast("double"))
      .withColumn("db",
        lit(10.0d) * lit(totalLen.toDouble) *
          col("tf_b").cast("double") +
          lit(3.0d) * lit(totalLen.toDouble) +
          lit(9.0d) * lit(nDocs.toDouble) * col("dl").cast("double"))
      .withColumn("rank_num",
        col("tf_a").cast("double") * col("db") +
          col("tf_b").cast("double") * col("da"))
      .withColumn("rank_key",
        when(col("da") * col("db") >= lit(Search.TwoTo53),
          expr("raise_error('bm25WandAudit: integer rank-key " +
            "envelope exceeded (da*db >= 2^53) — the exact-ordering " +
            "certificate cannot hold at this corpus scale')")
            .cast("double"))
          .otherwise(col("rank_num") / (col("da") * col("db"))))
    certifyRanks(pruned.join(keyed, "doc_id"), keyed, k)
      .withColumn("score_in_bounds",
        col("score") > 0.0 &&
          col("score") < lit(2.0 * idfShared * (k1 + 1.0)))
      .select("doc_id", "term_a", "term_b", "tf_a", "tf_b", "dl",
        "rank", "rank_key", "rank_agrees", "score_in_bounds")
      .orderBy("rank")
  }

  /** The rank certificate over a top-k `page` of (doc_id, score,
    * rank_key, …) rows: `rank` numbers the page under (score desc,
    * doc_id), `rank_exact` under (rank_key desc, doc_id), and
    * `rank_agrees` holds when the two agree AND the doc is in the
    * independent key-ordered top-k of `keyed` (every candidate with
    * its rank_key). Without that membership check, a rounding
    * perturbation that swaps a boundary doc in or out of the
    * score-selected page could renumber consistently inside the
    * bounded page and mask exactly the disagreement the certificate
    * exists to flag. The key top-k is a distributed
    * TakeOrderedAndProject and the windows number k bounded rows —
    * never a corpus-wide rank window. */
  private def certifyRanks(page: DataFrame, keyed: DataFrame,
                           k: Int): DataFrame = {
    val keyTop = keyed
      .orderBy(desc("rank_key"), asc("doc_id")).limit(k)
      .select(col("doc_id"), lit(true).as("in_key_topk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    val wx = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rank_key"), asc("doc_id"))
    page.join(broadcast(keyTop), Seq("doc_id"), "left")
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("rank_exact", row_number().over(wx).cast("long"))
      .withColumn("rank_agrees", col("rank") === col("rank_exact") &&
        coalesce(col("in_key_topk"), lit(false)))
  }

  /** Single-term BM25 over the segmented index with its exact
    * integer-ratio rank certificate — [[Search.bm25RankAudit]]'s
    * contract served from the segment tier, under Lucene's statistics
    * phases: N and totalLen come from the per-segment manifest
    * headers and df from the still-tombstone-bearing postings (all of
    * which COUNT deleted docs until a [[merge]]), while the ranked
    * hit list excludes tombstoned docs immediately. tf and dl ride in
    * the pruned postings rows; the corpus is never read. Output
    * schema identical to [[Search.bm25RankAudit]]; the k1=1.2/b=0.75
    * integer-key derivation is documented there. ONE frame carries
    * both orders — the live postings joined to the broadcast 1-row
    * df, scored by [[bm25Contrib]] (one term: [[bm25TopK]]'s per-doc
    * sum IS the posting's contribution) and keyed by the exact ratio
    * — and both top-k's are taken off it ([[certifyRanks]]).
    */
  def bm25RankAudit(spark: SparkSession, rootDir: String, term: String,
                    k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(k1 == 1.2 && b == 0.75,
      "the exact rank_key derivation hardcodes k1=1.2, b=0.75 " +
        "(rationals 3/10, 9/10); generalize the integer key to change them")
    val root = new java.io.File(rootDir)
    val qs = qTerms(root, Seq(term))
    require(qs.nonEmpty,
      s"'$term' analyzes to no term under the index's analyzer")
    val qt = qs.head
    val (nb, segs, _) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    val totalLen = segs.filter(_.kind == "seg").map(_.totalLen).sum
    val p = prunedPostings(spark, root, segs, Seq(qt), nb)
      .filter(col("term") === lit(qt))
    val dfreq = p.agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    // the denominator is computed in DOUBLE, not Long — correctly
    // rounded at any magnitude (bit-identical inside the 2^53
    // envelope) where the Long sum would silently wrap at 2^63 —
    // and an input beyond the exact-integer envelope fails the
    // audit LOUDLY ([[Search.bm25PairRankAudit]]'s contract; the
    // key-ordered top-k evaluates the guard on EVERY live posting,
    // since the exact-order claim is corpus-wide)
    val full = bm25Contrib(live.crossJoin(broadcast(dfreq)),
        nDocs, totalLen, k1, b)
      .withColumnRenamed("contrib", "score")
      .withColumn("rank_den",
        lit(10.0d) * lit(totalLen.toDouble) * col("tf").cast("double") +
          lit(3.0d) * lit(totalLen.toDouble) +
          lit(9.0d) * lit(nDocs.toDouble) * col("dl").cast("double"))
      .withColumn("rank_key",
        when(col("rank_den") >= lit(Search.TwoTo53),
          expr("raise_error('bm25RankAudit: integer rank-key " +
            "envelope exceeded (>= 2^53) — the exact-ordering " +
            "certificate cannot hold at this corpus scale')")
            .cast("double"))
          .otherwise(col("tf").cast("double") / col("rank_den")))
    certifyRanks(full.orderBy(desc("score"), asc("doc_id")).limit(k),
        full, k)
      .withColumn("score_in_bounds",
        col("score") > 0.0 && col("score") < col("idf") * (k1 + 1.0))
      .select("doc_id", "tf", "dl", "rank", "rank_key", "rank_agrees",
        "score_in_bounds")
      .orderBy("rank")
  }

  /** Prefix query — ES's `prefix` (Lucene's multi-term query in its
    * default CONSTANT-SCORE rewrite): pass 1 walks the
    * vocabulary-sized per-segment term dictionaries for terms
    * starting with the prefix (Lucene's terms-index automaton walk —
    * the matched set is query-bounded and collects to the driver the
    * way Lucene enumerates automaton matches, exactly
    * [[fuzzySearch]]'s pass 1), pass 2 reads ONLY the matched terms'
    * postings, bucket-pruned at planning time with the now-literal
    * term list. Every matching live document scores 1.0 regardless
    * of tf/df — Lucene rewrites multi-term queries constant-score
    * precisely so documents carrying many rare expansions don't
    * dominate. The dictionary keeps tombstoned docs' terms until
    * merge (Lucene parity) but the hit list excludes those docs
    * immediately. Output: (doc_id, score, n_terms_matched),
    * doc_id-ordered, first k. */
  def prefixSearch(spark: SparkSession, rootDir: String,
                   prefix: String, k: Int,
                   maxExpansions: Int = DefaultMaxDictExpansions)
      : DataFrame = {
    require(prefix.nonEmpty, "prefixSearch needs a non-empty prefix")
    val px = Analyzer.normalize(
      readAnalyzer(new java.io.File(rootDir)), prefix)
    constantScoreDictSearch(spark, rootDir,
      _.filter(col("term").startsWith(px)), k, maxExpansions)
  }

  /** Wildcard query — ES's `wildcard` (`*` any sequence, `?` exactly
    * one char), Lucene's multi-term automaton in its constant-score
    * rewrite: the pattern compiles to an anchored regex (every other
    * char taken LITERALLY — regex metacharacters escaped), pass 1
    * filters the vocabulary-sized dictionaries, pass 2 reads only the
    * matched terms' postings bucket-pruned — [[prefixSearch]]'s exact
    * shape with a richer automaton. Leading-`*` patterns work but
    * walk the whole dictionary, ES's own documented caveat. */
  def wildcardSearch(spark: SparkSession, rootDir: String,
                     pattern: String, k: Int,
                     maxExpansions: Int = DefaultMaxDictExpansions)
      : DataFrame = {
    require(pattern.nonEmpty, "wildcardSearch needs a pattern")
    val pat = Analyzer.normalize(
      readAnalyzer(new java.io.File(rootDir)), pattern)
    constantScoreDictSearch(spark, rootDir,
      _.filter(col("term").rlike(wildcardRegex(pat))), k,
      maxExpansions)
  }

  /** The anchored-regex translation of a Lucene wildcard pattern
    * (`*` any sequence, `?` exactly one char, everything else
    * literal) — shared by [[wildcardSearch]] and [[QueryString]]'s
    * wildcard leaves so the automaton is ONE definition. */
  private[operators] def wildcardRegex(pat: String): String =
    "^" + pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()^$|+".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  /** Regexp query — ES's `regexp` (term-level, whole-term anchored:
    * ES compiles against the complete term, so `sp.*k` matches
    * `spark` but not `sparkly`): [[wildcardSearch]]'s constant-score
    * dictionary walk with the caller's pattern instead of a
    * wildcard translation — the expansion runs over the
    * vocabulary-sized dictionaries under the same `maxExpansions`
    * cap and distributed over-cap fallback, postings read only for
    * the matched terms. Callers should stick to the portable regexp
    * core (classes, `*`/`+`/`?`, alternation) — ES's Lucene dialect,
    * Spark's Java dialect and the oracle's RE2 agree there; the
    * exotic corners (lookahead, ES's `~` complement) differ by
    * engine and are not part of this contract. The whole-term anchor
    * wraps the pattern in a NON-CAPTURING GROUP — `^(?:a|b)$` — so a
    * top-level alternation stays inside the anchors (bare
    * `^spark|vec$` would find-anywhere-match `sparkly` via its left
    * branch, violating the whole-term contract). Patterns are
    * query-normalized (lowercased) ONLY when they carry no backslash
    * escape: lowercasing `\S` silently flips it to `\s` — a pattern
    * that opts into escape classes is taken verbatim, stated here
    * rather than mangled quietly. Output: (doc_id,
    * score, n_terms_matched), id-ordered first k. */
  def regexpSearch(spark: SparkSession, rootDir: String,
                   pattern: String, k: Int,
                   maxExpansions: Int = DefaultMaxDictExpansions)
      : DataFrame = {
    require(pattern.nonEmpty, "regexpSearch needs a pattern")
    val pat =
      if (pattern.contains('\\')) pattern
      else Analyzer.normalize(
        readAnalyzer(new java.io.File(rootDir)), pattern)
    constantScoreDictSearch(spark, rootDir,
      _.filter(col("term").rlike("^(?:" + pat + ")$")), k,
      maxExpansions)
  }

  /** Terms enumeration — ES's `_terms_enum` API (field-value
    * autocomplete): the first `k` vocabulary terms with the given
    * prefix, in term order, each with its document frequency. Runs
    * ENTIRELY on the vocabulary-sized per-segment dictionaries —
    * postings are never read, the corpus never scanned. Dictionary
    * semantics are Lucene's: tombstoned docs' terms keep appearing
    * (and counting toward df) until a merge rewrites them — exactly
    * what ES documents for this API ("terms are gathered from the
    * index, deleted documents may still influence it").
    * Output: (term, doc_freq), term-ascending, first k. */
  def termsEnum(spark: SparkSession, rootDir: String, prefix: String,
                k: Int): DataFrame = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    // multi-term queries NORMALIZE (lowercase), never stem — Lucene
    val px = Analyzer.normalize(readAnalyzer(root), prefix)
    dictFrame(spark, root, segs)
      .filter(col("term").startsWith(px))
      .groupBy("term").agg(sum("doc_freq").as("doc_freq"))
      .orderBy("term")
      .limit(k)
  }

  /** Default expansion cap for the constant-score dictionary-walk
    * queries — ES's `indices.query.bool.max_clause_count` posture:
    * the driver-side term collect is BOUNDED regardless of what the
    * automaton matches in the vocabulary. */
  val DefaultMaxDictExpansions: Int = 1024

  /** The shared constant-score multi-term tail: expand the term set
    * through the dictionary walk, read only those terms' postings
    * bucket-pruned, score every matching live doc 1.0.
    *
    * The driver-side collect is CAPPED INSIDE THE PLAN — at most
    * `maxExpansions + 1` terms ever reach the driver (an
    * `orderBy(term).limit` before the collect, ES's
    * `max_clause_count` contract; a `prefix("a")` or
    * `wildcard("*x*")` over a 10^8-term vocabulary can no longer pull
    * a vocabulary-fraction string array into the driver). When the
    * automaton matches MORE than the cap, the search does not fail
    * and does not truncate: it falls back to a DISTRIBUTED term
    * semi-join — the matched-term frame joins the postings on `term`
    * without ever leaving the cluster (Lucene's own
    * CONSTANT_SCORE_REWRITE builds a bitset with no clause limit for
    * exactly this case). The fallback trades the planning-time `tb`
    * partition pruning for an un-collected term set — the right trade
    * precisely when the matched set is too big to enumerate. */
  private def constantScoreDictSearch(spark: SparkSession,
      rootDir: String, termFilter: DataFrame => DataFrame,
      k: Int, maxExpansions: Int): DataFrame = {
    import spark.implicits._
    require(maxExpansions >= 1,
      s"maxExpansions must be >= 1: $maxExpansions")
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val matchedDf = termFilter(dictFrame(spark, root, segs))
      .select("term").distinct()
    // the cap lives in the plan: the collect is <= maxExpansions + 1
    // strings by construction (the +1 only detects overflow)
    val matched = matchedDf
      .orderBy("term").limit(maxExpansions + 1)
      .as[String].collect().toSeq.sorted
    if (matched.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "score", "n_terms_matched")
    val p =
      if (matched.size <= maxExpansions)
        // enumerable set: literal terms, planning-time bucket pruning
        prunedPostings(spark, root, segs, matched, nb)
      else
        // too many matches to enumerate: distributed semi-join — the
        // matched set stays on the cluster (recompute per segment scan
        // is one dictionary read, vocabulary-sized like pass 1)
        segmentsRead(spark, root, segs)
          .join(matchedDf, Seq("term"), "left_semi")
    val live = liveDocs(spark, root, segs)(p)
    live.groupBy("doc_id")
      .agg(countDistinct(col("term")).as("n_terms_matched"))
      .withColumn("score", lit(1.0d))
      .select("doc_id", "score", "n_terms_matched")
      .orderBy("doc_id")
      .limit(k)
  }

  /** Fuzzy term search over the SEGMENTED index — Lucene's fuzzy
    * query shape exactly: pass 1 walks the TERM DICTIONARY (here: the
    * distinct term column of every live segment — pre-tombstone, as
    * Lucene's dictionary keeps deleted docs' terms until merge) with
    * SymSpell deletion-variant blocking against the broadcast query
    * variants, resolving the data-dependent matched-term set
    * (query-bounded — it collects to the driver the way Lucene
    * enumerates the automaton's matches); pass 2 reads ONLY the
    * matched terms' postings, bucket-pruned at planning time with the
    * now-literal term list. Lucene-AUTO allowance: query terms of
    * length ≥ 6 allow two edits, shorter one ([[graft.operators
    * .Fuzzy]] proves recall 1 for the blocking). Scoring is the exact
    * tf·(N/df) per (q_term, term) with the usual stats phases: N and
    * df count tombstoned docs, the ranked hits exclude them. Output:
    * (q_term, term, dist, doc_id, tfidf, rank), rank ≤ k per pair. */
  def fuzzySearch(spark: SparkSession, rootDir: String,
                  terms: Seq[String], k: Int,
                  maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"maxDist must be 1 or 2: $maxDist")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    // fuzzy is a multi-term query: NORMALIZE the literals (lowercase),
    // never stem — Lucene's fuzzy rewrites against the raw dictionary
    val an0 = readAnalyzer(root)
    val qn = terms.map(Analyzer.normalize(an0, _)).distinct
    val (nb, segs, gen) = readManifest(root)
    val nDocs = segs.filter(_.kind == "seg").map(_.nDocs).sum
    // pass 1: dictionary walk over the per-segment TERM DICTIONARIES
    // — a vocabulary-sized read (Lucene's terms index), never the
    // corpus-sized postings
    val vocab = dictFrame(spark, root, segs).select("term").distinct()
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
    def variants(s: String): Seq[String] =
      if (maxDist == 2 && s.length >= 6)
        (del1(s) ++ del1(s).flatMap(del1)).distinct
      else del1(s)
    val qv = qn.flatMap(t => variants(t).map(v => (t, v))).distinct
      .toDF("q_term", "v")
    val cand = vocab
      .withColumn("v", explode(expr(Fuzzy.delAutoExpr("term", maxDist))))
      .join(broadcast(qv), "v")
      .filter(levenshtein(col("term"), col("q_term")) <=
        when(length(col("q_term")) >= 6, lit(maxDist)).otherwise(lit(1)))
      .select("q_term", "term").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val matched = cand.map(_._2).distinct
    // pass 2: the matched terms are now literals — the postings read
    // prunes to their buckets at planning time, like any term query
    val p = prunedPostings(spark, root, segs, matched, nb)
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val live = liveDocs(spark, root, segs)(p)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_term", "term")
      .orderBy(desc("tfidf"), asc("doc_id"))
    live
      .join(broadcast(cand.toDF("q_term", "term")), Seq("term"))
      .join(dfreq, "term")
      .withColumn("tfidf", col("tf").cast("double") *
        (lit(nDocs).cast("double") / col("doc_freq").cast("double")))
      .withColumn("dist",
        levenshtein(col("q_term"), col("term")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_term", "term", "dist", "doc_id", "tfidf", "rank")
      .orderBy("q_term", "term", "rank")
  }

  /** Exact phrase search over the SEGMENTED index — the positional
    * postings ride inline in the same segments the term and BM25
    * queries read (Lucene's layout), so phrase queries work on the
    * live, updatable index: the pruned per-term read (planning-time
    * `tb IN` partition filters across every segment), the tombstone
    * anti join (live-docs — a deleted doc's phrase hits vanish
    * immediately), then [[Search.phraseFromPostings]]'s single-pass
    * anchor-count core over the exploded positions. Output:
    * (doc_id, n_occurrences, first_pos). */
  def phraseSearch(spark: SparkSession, rootDir: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    // the query phrase analyzes with the index's chain, POSITIONS
    // INCLUDED: a stopword inside the phrase leaves a GAP the match
    // must respect — ES's match_phrase under the english analyzer
    // ("the big apple" matches "big the apple"? no — big@1, apple@2
    // after the stopword consumed position 0). Whitespace chain
    // analyzes to dense offsets — the pre-analyzer behavior exactly.
    val offsets = Analyzer
      .analyzeText(readAnalyzer(root), phrase.mkString(" "))
      .map { case (pos, t) => (t, pos) }
    if (offsets.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "n_occurrences", "first_pos")
    val terms = offsets.map(_._1).distinct
    val live = livePostings(spark, root, segs, terms, nb)
    Search.phraseFromPostings(live.select(col("doc_id"), col("term"),
      explode(col("positions")).as("pos")), offsets)
  }

  /** Phrase-prefix query — ES's `match_phrase_prefix`, THE
    * autocomplete query (search-as-you-type matches "big or" against
    * "big order"): the leading positions match their terms exactly
    * and the LAST position matches ANY dictionary term starting with
    * the prefix, capped at `maxExpansions` smallest terms (ES's
    * default cap of 50, in term-dictionary order). Pass 1 expands
    * through the vocabulary-sized dictionaries; pass 2 runs the
    * anchor-count match over only the involved terms' bucket-pruned
    * postings. The correctness argument is [[Search
    * .phraseFromPostings]]'s: one term per position means each
    * (anchor, offset) pair gets at most one row, so `count == k` IS
    * "every offset matched" — and since two expansions can never
    * occupy the same position, an occurrence counts once no matter
    * how many expansions exist. Output: (doc_id, n_occurrences,
    * first_pos), id-ordered — [[phraseSearch]]'s schema. */
  def phrasePrefixSearch(spark: SparkSession, rootDir: String,
      leading: Seq[String], prefix: String,
      maxExpansions: Int = 50): DataFrame = {
    require(prefix.nonEmpty, "needs a non-empty trailing prefix")
    import spark.implicits._
    val root = new java.io.File(rootDir)
    val an = readAnalyzer(root)
    val (nb, segs, _) = readManifest(root)
    // the leading terms analyze WITH positions (stopword gaps kept,
    // like phraseSearch); the trailing prefix only NORMALIZES
    // (multi-term queries are never stemmed), and its slot is the raw
    // token position AFTER the leading text — gaps included
    val leadOffsets = Analyzer.analyzeText(an, leading.mkString(" "))
      .map { case (pos, t) => (t, pos) }
    // the prefix slot is ONE PAST the last real leading token's
    // position. Under a separator-collapsing chain the raw split of
    // the leading text can end in an EMPTY token (leading text ends
    // in a separator, e.g. "foo,"), which occupies no position in
    // the indexed document ("foo, bar" tokenizes bar at 1) — so the
    // slot derives from the last NON-EMPTY raw index, not the raw
    // array length. The whitespace chain keeps empty tokens as real
    // positions (posTerms parity), so there the raw length IS the
    // slot.
    val prefixOff: Long =
      if (leading.isEmpty) 0L
      else if (an == Analyzer.Whitespace) leading.size.toLong
      else (Analyzer.normalize(an, leading.mkString(" "))
        .split(an.splitRx, -1).lastIndexWhere(_.nonEmpty) + 1).toLong
    val px = Analyzer.normalize(an, prefix)
    // the ES cap (max_expansions, smallest terms first) applies
    // INSIDE the plan — the collect is bounded by construction, never
    // a vocabulary-fraction driver pull capped after the fact
    val expanded = dictFrame(spark, root, segs)
      .filter(col("term").startsWith(px))
      .select("term").distinct()
      .orderBy("term").limit(maxExpansions)
      .as[String].collect().toSeq.sorted
    if (expanded.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "n_occurrences", "first_pos")
    val all = (leadOffsets.map(_._1) ++ expanded).distinct
    val live = livePostings(spark, root, segs, all, nb)
    val k = leadOffsets.size + 1
    val offsets = (leadOffsets ++
      expanded.map(t => (t, prefixOff)))
      .toDF("term", "off")
    live.select(col("doc_id"), col("term"),
        explode(col("positions")).as("pos"))
      .join(broadcast(offsets), "term")
      .select(col("doc_id"), col("off"),
        (col("pos") - col("off")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("doc_id", "anchor")
      // distinct OFFSETS matched, not raw rows: the last slot admits
      // a term SET, and under an index-time-synonym chain one doc
      // position can stack several of its expansions — "every slot
      // matched" must not be confused by a doubly-matched slot
      .agg(countDistinct(col("off")).as("n_hit"))
      .filter(col("n_hit") === lit(k.toLong))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"),
        min("anchor").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Whether the index already holds [[append]]'s segment for this
    * batch key — one driver-side manifest parse. The replay guard a
    * MULTI-INDEX writer needs ([[graft.streaming.EventStreams
    * .rolloverIndexSink]]): append's own membership check only
    * covers the index it targets, so a re-delivered epoch that
    * arrives AFTER an alias flip must ask the whole family. */
  def hasBatch(rootDir: String, batchKey: String): Boolean = {
    val root = new java.io.File(rootDir)
    if (!hasManifest(root)) return false
    val fp = graft.engine.Bucketing.fingerprint8("sx4|" + batchKey)
    readManifest(root)._2.exists(_.name == s"seg=$fp")
  }

  /** Live segment/tombstone counts and the Lucene-phase corpus stats
    * — (n_segments, n_tombstone_segments, n_docs_stat). */
  def stats(rootDir: String): (Long, Long, Long) = {
    val (_, segs, _) = readManifest(new java.io.File(rootDir))
    (segs.count(_.kind == "seg").toLong,
      segs.count(_.kind == "del").toLong,
      segs.filter(_.kind == "seg").map(_.nDocs).sum)
  }

  /** Segment merge — Lucene's compaction: fold every live segment
    * into one, APPLY the tombstones (their postings drop, and the
    * corpus statistics finally shift), commit the single-segment
    * manifest atomically. The superseded directories stay on disk —
    * a reader that loaded the previous manifest generation may still
    * be mid-scan of them, so reclaiming is [[vacuum]]'s
    * age-thresholded job, never the merge's (the Delta model: the
    * commit flips visibility, vacuum reclaims space later). Returns
    * (segments folded, tombstone segments applied). */
  def merge(spark: SparkSession, rootDir: String): (Int, Int) = {
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    mergePrefix(spark, root, segs.size)
  }

  /** Tiered merge — Lucene's TieredMergePolicy, simplified to one
    * tier: a no-op while the live segment count stays within
    * `maxSegments`; above it, fold segments down to the bound,
    * picking the CHEAPEST fold the tombstone rule allows —
    * SMALLEST-first, like Lucene, so steady mixed ingest (one big
    * bulk + many tiny streaming batches) folds the tiny segments
    * over and over and never rewrites the big one. Selection:
    *
    *  - candidates are CONTIGUOUS runs of `toFold` seg entries with
    *    no del entry between them. Folding such a run into one
    *    segment AT ITS MANIFEST POSITION, WITHOUT applying any
    *    tombstones, is exactly semantics-preserving: a del before
    *    the run never applied to its members and still doesn't; a
    *    del after the run applied to every member and still does —
    *    [[tombstones]] expands it against the merged name, whose
    *    postings are the union of the members'. Stats are the
    *    member sums (deleted docs keep counting — the Lucene phase);
    *  - among candidates, fold the one with the smallest total
    *    token length (write cost);
    *  - if dels interleave every window, fall back to folding the
    *    OLDEST PREFIX, which ABSORBS its prefix-scoped tombstones
    *    (every tombstone in the prefix scopes only to prefix
    *    segments; every later one follows the merged segment and
    *    still applies to it).
    *
    * This is what bounds merge WRITE AMPLIFICATION under streaming
    * ingest: each maybeMerge rewrites the cheapest few batches,
    * never the whole index; [[merge]] stays the full checkpoint.
    * Returns (segments folded, tombstone segments applied). */
  def maybeMerge(spark: SparkSession, rootDir: String,
                 maxSegments: Int): (Int, Int) = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val root = new java.io.File(rootDir)
    val (_, segs, _) = readManifest(root)
    val liveCount = segs.count(_.kind == "seg")
    if (liveCount <= maxSegments) return (0, 0)
    val toFold = liveCount - maxSegments + 1
    // del-free contiguous windows of toFold manifest entries, scored
    // by total token length — O(segments²) driver arithmetic over a
    // merge-bounded list
    val windows = segs.indices
      .filter(i => i + toFold <= segs.size &&
        segs.slice(i, i + toFold).forall(_.kind == "seg"))
    if (windows.nonEmpty) {
      val best = windows.minBy(i =>
        (segs.slice(i, i + toFold).map(_.totalLen).sum, i))
      mergeRun(spark, root, best, toFold)
    } else {
      // every window is del-broken: fold the oldest prefix (absorbs
      // its prefix-scoped tombstones)
      val prefixEnd = segs.zipWithIndex.filter(_._1.kind == "seg")
        .apply(toFold - 1)._2 + 1
      mergePrefix(spark, root, prefixEnd)
    }
  }

  /** Fold the del-free run `segs[start, start+len)` into one segment
    * at the same manifest position, WITHOUT applying tombstones (the
    * correctness argument is in [[maybeMerge]]). Postings, stored
    * fields and dictionaries union; stats are member sums. */
  private def mergeRun(spark: SparkSession, root: java.io.File,
                       start: Int, len: Int): (Int, Int) = {
    val (nb, segs, gen) = readManifest(root)
    val run = segs.slice(start, start + len)
    require(run.forall(_.kind == "seg"), s"run at $start is not del-free")
    if (run.size <= 1) return (0, 0)
    val fp = graft.engine.Bucketing.fingerprint8(
      "sx4merge|" + run.map(_.name).mkString("|"))
    val name = s"seg=$fp"
    val all = segmentsRead(spark, root, run)
    graft.engine.Bucketing.atomicStage(new java.io.File(root, name)) {
      tmp =>
        val st = storedFrame(spark, root, run).drop("seg")
        // postings first and alone (overwrite truncates tmp), then
        // the independent artifact chains concurrently (guide §2.6)
        all.select("term", "doc_id", "dl", "tf", "positions", "tb")
          .repartition(nb, col("tb")) // one write task per bucket
          .write.mode("overwrite").partitionBy("tb")
          .parquet(tmp.getPath)
        graft.engine.Parallel.all(
          () => writeDict(spark, tmp, nb),
          () => writeStored(st, tmp, nb),
          // regenerate the completion-field artifact for the merged
          // segment (tombstones are NOT applied here — the run is
          // del-free and later dels still anti-join at serve time, the
          // same contract as the merged postings)
          () => cfTripleOf(root).foreach(t =>
            writeCField(st, tmp, nb, readAnalyzer(root),
              (t._1, t._2), t._3)))
    }
    writeManifest(root, nb,
      segs.take(start) ++
        Seq(Seg("seg", name, run.map(_.nDocs).sum,
          run.map(_.totalLen).sum)) ++
        segs.drop(start + len), gen)
    // retirement stays vacuum's job (see [[mergePrefix]])
    (run.size, 0)
  }

  /** Fold the first `prefixLen` manifest entries into one segment:
    * read their postings, apply their tombstones (prefix-scoped, so
    * all-in-prefix by construction), publish the fold, commit the
    * manifest with the merged segment at the FRONT followed by the
    * untouched remainder, then retire the folded directories. */
  private def mergePrefix(spark: SparkSession, root: java.io.File,
                          prefixLen: Int): (Int, Int) = {
    val (nb, segs, gen) = readManifest(root)
    val prefix = segs.take(prefixLen)
    val rest = segs.drop(prefixLen)
    val posts = prefix.filter(_.kind == "seg")
    val dels = prefix.filter(_.kind == "del")
    if (posts.size <= 1 && dels.isEmpty) return (0, 0)
    val keepLive = liveDocs(spark, root, prefix)
    val live = keepLive(segmentsRead(spark, root, posts))
    val fp = graft.engine.Bucketing.fingerprint8(
      "sx4merge|" + prefix.map(_.name).mkString("|"))
    val name = s"seg=$fp"
    val merged = live.persist()
    // post-merge stats recomputed from the surviving postings: every
    // doc holds >= 1 posting (tokenize never returns an empty array),
    // so (doc_id, dl) pairs recover exact doc counts and lengths
    val st = merged.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n"), sum("dl").as("tl")).collect().head
    val storedLive = keepLive(storedFrame(spark, root, prefix))
    graft.engine.Bucketing.atomicStage(new java.io.File(root, name)) {
      tmp =>
        // postings first and alone (overwrite truncates tmp), then
        // the independent artifact chains concurrently (guide §2.6)
        merged.select("term", "doc_id", "dl", "tf", "positions", "tb")
          .repartition(nb, col("tb")) // one write task per bucket
          .write.mode("overwrite").partitionBy("tb")
          .parquet(tmp.getPath)
        graft.engine.Parallel.all(
          () => writeDict(spark, tmp, nb),
          () => writeStored(storedLive.drop("seg"), tmp, nb),
          // the merged segment's completion-field artifact derives from
          // the SURVIVING stored fields — the merge is where tombstoned
          // docs' suggestions physically leave the artifact
          () => cfTripleOf(root).foreach(t =>
            writeCField(storedLive.drop("seg"), tmp, nb,
              readAnalyzer(root), (t._1, t._2), t._3)))
    }
    merged.unpersist()
    writeManifest(root, nb,
      Seg("seg", name, st.getLong(0), st.getLong(1)) +: rest, gen)
    // retirement is [[vacuum]]'s job, NOT the merge's: a reader that
    // loaded the previous manifest generation an instant before this
    // commit may still be mid-scan of the folded directories —
    // deleting them here would fail it with file-not-found. The
    // Delta model: the commit flips visibility, the age-thresholded
    // vacuum reclaims space once no plausible reader holds the old
    // generation.
    (posts.size, dels.size)
  }

  /** Snapshot — ES's repository snapshot, structurally: copy every
    * manifest-referenced directory to `destDir`, then commit the
    * manifest there by the same atomic rename (data first, manifest
    * last — a crashed snapshot leaves the destination readable at its
    * previous generation). INCREMENTAL exactly the way ES snapshots
    * are: segments are immutable and content-addressed by name, so a
    * directory already COMPLETE in the destination (its `_SUCCESS`
    * marker present) is skipped — a re-snapshot after N new batches
    * copies N directories, never the index. Each copy lands in a
    * temp-named sibling and publishes by ONE atomic rename, so a
    * snapshot that crashes mid-copy leaves an invisible temp (vacuum
    * fodder at the destination), never a torn segment a retry would
    * silently adopt into its committed manifest. The destination IS a working index (the manifest is
    * self-contained), so restore = read it; orphans and retired
    * generations are excluded by construction (only referenced names
    * copy). Returns the number of directories copied. At 100 TB this
    * file list is exactly what an object-store copy service takes.
    */
  def snapshot(rootDir: String, destDir: String): Int = {
    val root = new java.io.File(rootDir)
    val (nb, segs, _) = readManifest(root)
    val dest = new java.io.File(destDir)
    dest.mkdirs()
    var copied = 0
    segs.foreach { sg =>
      val to = new java.io.File(dest, sg.name)
      // "already present" means COMPLETE — the _SUCCESS marker the
      // atomic publish below guarantees. A markerless destination
      // dir is a torn copy from a crashed snapshot: replace it
      // instead of silently committing a manifest that references it
      if (!new java.io.File(to, "_SUCCESS").isFile) {
        if (to.exists()) graft.engine.Bucketing.deleteTree(to)
        val tmp = new java.io.File(dest, sg.name + ".snap-" +
          java.util.UUID.randomUUID().toString.take(8))
        copyTree(new java.io.File(root, sg.name), tmp)
        // source segments carry _SUCCESS from their own staging;
        // guarantee it on the copy regardless
        new java.io.File(tmp, "_SUCCESS").createNewFile()
        graft.engine.Fs.renameNoReplace(tmp, to)
        copied += 1
      }
    }
    // the destination manifest advances its OWN generation chain but
    // carries the SOURCE's analyzer + completion mapping (the
    // snapshot is the same index)
    val destGen = if (hasManifest(dest)) readManifest(dest)._3 else 0L
    writeManifest(dest, nb, segs, destGen, Some(analyzerNameOf(root)),
      cfHeaderOf(root))
    copied
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten
        .foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else
      java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reclaim unreferenced segment directories — crashed writers'
    * orphans and retired generations whose deferred delete never ran.
    * Age-thresholded like [[graft.engine.Bucketing.vacuumStaging]] so
    * an in-flight writer's data (committed by the manifest rename
    * that FOLLOWS its writes) is never pulled down first. "Live"
    * means referenced by ANY retained manifest generation, not just
    * the newest: [[searchAt]] serves point-in-time reads at every
    * generation within [[KeepGenerations]], so a directory only a
    * RETAINED older generation references must stay readable until
    * that generation itself is pruned ([[writeManifest]] retires
    * generation files; only then do their exclusive directories
    * become vacuum fodder). Returns the number of directories
    * reclaimed. */
  def vacuum(rootDir: String, olderThanMs: Long = 3600L * 1000): Int = {
    val root = new java.io.File(rootDir)
    val gens = manifestGens(root)
    require(gens.nonEmpty, s"no segmented index at $root")
    val liveNames = gens
      .flatMap { case (_, f) => parseManifest(f)._2.map(_.name) }
      .toSet
    val now = System.currentTimeMillis()
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +:
          Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
      else f.lastModified()
    val orphans = Option(root.listFiles()).toSeq.flatten.filter { f =>
      (f.isDirectory &&
        (f.getName.startsWith("seg=") || f.getName.startsWith("del=")) &&
        !liveNames.contains(f.getName) ||
        // a crashed writeManifest's un-renamed temp commit file
        f.isFile && f.getName.startsWith("_SEGMENTS.tmp-")) &&
        now - newestMtime(f) >= olderThanMs
    }
    orphans.foreach(graft.engine.Bucketing.deleteTree)
    orphans.size
  }
}
