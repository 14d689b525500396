package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: the corpus-preparation steps that
  * sit between raw documents and a training run. All are per-row
  * codegen'd expressions or single-shuffle joins; all are deterministic
  * (content-hash based, no RNG) so runs are reproducible and the DuckDB
  * oracle can replay them exactly — on a 1000-executor cluster,
  * determinism-under-repartitioning is what makes a data recipe a
  * recipe.
  */
object Pipeline {

  /** Sliding token-window chunks (`size` tokens, `stride` step) — the
    * context-window packing step. One output row per chunk; the explode
    * multiplies row count by ~n_tokens/stride, so repartition after
    * chunking, before any wide transform (SCALE.md).
    */
  def chunk(docs: DataFrame, size: Int = 32, stride: Int = 16): DataFrame =
    docs
      .withColumn("toks", TextOps.tokens("text"))
      .withColumn("chunk_id", explode(expr(
        s"sequence(0, greatest(cast(ceil((size(toks) - $size) / " +
          s"cast($stride as double)) as int), 0))")))
      .withColumn("chunk_text", expr(
        s"concat_ws(' ', slice(toks, chunk_id * $stride + 1, $size))"))
      .withColumn("chunk_tokens", expr(
        s"bigint(size(slice(toks, chunk_id * $stride + 1, $size)))"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"), col("chunk_tokens"))

  /** PII-shaped redaction: digit runs → `<num>`, token-internal
    * at-signs → `<email>` placeholder. Pure `regexp_replace` — the
    * pattern set is a stand-in; the operator shape (chained per-row
    * regex rewrites, no shuffle) is the real thing.
    */
  def redact(docs: DataFrame): DataFrame =
    docs
      .withColumn("redacted", regexp_replace(
        regexp_replace(col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<email>"),
        "[0-9]+", "<num>"))
      .withColumn("n_redactions", expr(
        "bigint(size(regexp_extract_all(redacted, '<(num|email)>', 0)))"))

  /** Sequence packing (the pack-then-split training layout): concatenate
    * documents into a token stream per `partitionCol` stratum (ordered
    * by doc_id — deterministic) and cut it into fixed-`capacity`
    * windows. Each doc reports the window its first token lands in and
    * its offset inside that window; docs may straddle windows, exactly
    * like GPT-style packing. One windowed cumulative sum partitioned by
    * the stratum — parallel in the stratum count, no global single-task
    * window.
    */
  def packSequences(docs: DataFrame, capacity: Int,
                    partitionCol: String = "lang"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCol).orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("n_tokens", expr("bigint(size(split(text, ' ')))"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("start_tok", col("cum_tokens") - col("n_tokens"))
      // integer div/mod (not double division) — exact at any magnitude
      .withColumn("window_id", expr(s"start_tok div $capacity"))
      .withColumn("window_offset", col("start_tok") % capacity)
  }

  /** Deterministic STRATIFIED sampling: per-stratum keep rates (percent)
    * keyed by a stratum column, with content-hash bucketing — the
    * data-mixture lever of a training pipeline (e.g. downsample the
    * dominant language, keep all of a rare one). Same determinism
    * contract as [[split]]/[[systematicSample]]: bucket = charHash(text)
    * mod 100, keep if bucket < rate(stratum); no RNG, invariant under
    * repartitioning, and a re-ingested duplicate row makes the same
    * keep/drop decision everywhere. Per-row codegen'd hash + a literal
    * CASE over the rate map — zero shuffle.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultPct: Int,
                       stratumCol: String = "lang"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("bucket", expr("char_poly_hash(text) % 100"))
      .withColumn("keep_rate", rate.cast("long"))
      .filter(col("bucket") < col("keep_rate"))
  }

  /** Deterministic content-hash train/val/test split: bucket =
    * charHash(text) mod 100 → train < `trainPct` ≤ val < `valEnd` ≤
    * test. Content-based (not id-based) so re-ingested duplicates land
    * in the same split — the property that prevents leakage.
    */
  def split(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val valEnd = trainPct + valPct
    docs
      .withColumn("bucket", expr("char_poly_hash(text) % 100"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < valEnd, "val")
          .otherwise("test"))
  }

  /** Data-mixture planning: given target shares per language, find the
    * largest token budget the corpus can serve at EXACTLY those shares
    * (the binding language is the one with the least headroom,
    * budget = min over l of available_l / share_l), and each language's
    * keep rate against its available tokens. The rate ships as a
    * 2^20-fixed-point integer — exact to serialize, and directly
    * comparable to the content-hash bucket space the sampling operators
    * use. One aggregation plus a broadcast 1-row budget frame; every
    * arithmetic step is a single IEEE op in fixed order, so the DuckDB
    * oracle reproduces it bit-for-bit.
    */
  def mixturePlan(docs: DataFrame,
                  targets: Seq[(String, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val avail = docs
      .withColumn("n_tokens", expr("bigint(size(split(text, ' ')))"))
      .groupBy("lang").agg(sum("n_tokens").as("avail_tokens"))
    // LEFT join from the TARGETS side: a targeted language absent from
    // the corpus has zero headroom, which must drive the budget to 0 —
    // an inner join would silently drop it and overstate the budget as
    // if the mixture were servable without that language.
    val t = targets.toDF("lang", "target_share")
    val joined = t.join(avail, Seq("lang"), "left")
      .withColumn("avail_tokens", coalesce(col("avail_tokens"), lit(0L)))
      .withColumn("ratio",
        col("avail_tokens").cast("double") / col("target_share"))
    val budget = joined.agg(min("ratio").as("budget"))
    joined.crossJoin(broadcast(budget))
      .select(col("lang"), col("avail_tokens"),
        expr("bigint(floor(target_share * budget))").as("planned_tokens"),
        expr("if(avail_tokens = 0L, 0L, bigint(floor(target_share * " +
          "budget / cast(avail_tokens as double) * 1048576.0d)))")
          .as("keep_rate_fx"))
  }

  /** Systematic (deterministic) sampling: keep rows whose content hash
    * lands under `pct` of the bucket space. Unlike `df.sample`, the
    * result is a pure function of content — stable across runs,
    * partitionings and engines.
    */
  def systematicSample(docs: DataFrame, pct: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(expr(s"char_poly_hash(text) % 100 < $pct"))
  }

  /** Deterministic sharded corpus shuffle — the global pseudo-random
    * permutation a training run reads, factored the only way it scales:
    * `shard = hash(salt, doc_id) mod nShards`, within-shard order by
    * `(hash, doc_id)`. A true global sort-by-random-key is one global
    * range exchange; this is ONE hash-keyed shuffle parallel in
    * nShards, and the per-shard sort is local. No RNG anywhere: the
    * permutation is a pure function of (salt, doc_id), so re-runs,
    * repartitionings and engines agree row-for-row (the
    * repartition-invariance spec), and changing `salt` is a fresh
    * epoch's shuffle — exactly how large trainers re-shuffle between
    * epochs without materializing a new copy.
    *
    * The write path is the same shuffle with the audit column dropped:
    * `repartition(nShards, shard).sortWithinPartitions(h, doc_id)` into
    * one file per shard; `shard_pos` materializes the within-shard
    * order as an oracle-checkable column.
    */
  def shardedShuffle(docs: DataFrame, nShards: Int,
                     salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
    withShardKey(docs, nShards, salt)
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "shard_pos")
  }

  private def withShardKey(docs: DataFrame, nShards: Int,
                           salt: String): DataFrame =
    docs
      .withColumn("_sk",
        concat(lit(salt + ":"), col("doc_id").cast("string")))
      .withColumn("h", expr("char_poly_hash(_sk)"))
      .withColumn("shard", col("h") % nShards)

  /** The WRITE half of [[shardedShuffle]]: materialize the shuffled
    * corpus as one shard-keyed directory per shard
    * (`outDir/shard=N/…`), rows inside each shard's file(s) in the
    * permutation order a trainer reads them. Same single hash-keyed
    * shuffle (`repartition` on shard) + per-partition sort — the
    * partition write preserves sorted row order into the files, and
    * determinism is row-for-row: re-running the write (any input
    * partitioning) reproduces byte-identical shard contents, so a
    * shard file is re-creatable from the recipe (salt, nShards) alone.
    */
  def writeShards(docs: DataFrame, outDir: String, nShards: Int,
                  salt: String = "shuffle"): Unit = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    withShardKey(docs, nShards, salt)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "h", "doc_id")
      .drop("_sk")
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)
  }

  /** Merge/upsert — the CDC primitive every incremental corpus needs:
    * rows in `updates` REPLACE same-key rows in `base`; keys new to
    * `updates` append. Expressed as the join it is: base anti-joins
    * the update KEYS (only the key column of the small side moves),
    * then the updates union in by name.
    *
    * Scale shape: the usual CDC asymmetry (updates ≪ base) makes the
    * anti join a broadcast — the 100 TB base is scanned once, never
    * shuffled; comparable sides degrade to one key-hashed exchange.
    * This is exactly the MERGE INTO execution plan of the lakehouse
    * formats, minus their transaction log.
    *
    * Precondition (the lakehouse MERGE cardinality rule): `updates`
    * keys must be UNIQUE and NON-NULL. A duplicate update key emits
    * both rows (the union does not re-deduplicate), and a null key
    * never matches the anti join (SQL null semantics), so a null-key
    * base row would survive alongside a null-key update. Callers that
    * cannot guarantee this upstream should pre-aggregate updates to
    * one row per key; PipelineSpec pins both behaviors.
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame,
                  key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)

  /** One CDC batch applied to a snapshot: rows with `op = 'U'` upsert
    * (replace-or-append, [[mergeUpsert]] semantics), rows with
    * `op = 'D'` delete their key. Both ops ride the SAME anti join —
    * every batch key leaves the base, then only the upserts union
    * back — so a batch costs exactly what [[mergeUpsert]] costs: the
    * base never shuffles, only batch keys move (broadcast under the
    * usual batch ≪ base asymmetry).
    *
    * Same cardinality precondition as [[mergeUpsert]]: batch keys
    * unique and non-null (one op per key per batch — a delete and an
    * upsert of the same key in one batch is a contradiction upstream
    * must resolve).
    */
  def applyCdc(base: DataFrame, batch: DataFrame, key: String,
               opCol: String = "op"): DataFrame =
    base.join(batch.select(key), Seq(key), "left_anti")
      .unionByName(batch.filter(col(opCol) === "U").drop(opCol))

  /** Snapshot-at-version ("time travel") over a CDC log: replay the
    * first `version` batches onto the base with [[applyCdc]].
    * `version = 0` is the base itself; any older version stays
    * readable after newer batches exist — the log IS the history,
    * exactly the lakehouse-format contract (Delta/Iceberg minus their
    * transaction-log files).
    *
    * Scale shape: `version` sequential broadcast anti joins over one
    * base scan pipeline — lineage depth is the version count, so a
    * long-lived 100 TB table periodically MATERIALIZES a snapshot and
    * re-bases the log (the checkpoint lever every lakehouse format
    * pulls); replay cost is then `version mod checkpointInterval`
    * batches, never the full history.
    */
  def snapshotAt(base: DataFrame, batches: Seq[DataFrame], version: Int,
                 key: String, opCol: String = "op"): DataFrame = {
    require(version >= 0 && version <= batches.size,
      s"version must be in [0, ${batches.size}]: $version")
    batches.take(version).foldLeft(base)(applyCdc(_, _, key, opCol))
  }

  /** Incrementally maintain a per-group (count, sum) summary under ONE
    * CDC batch — materialized-view upkeep, the query-side dividend of
    * the [[applyCdc]] log: instead of re-aggregating the whole table
    * after every batch, the summary absorbs a delta built from (a) the
    * OLD rows of the batch's keys (subtract) and (b) the batch's
    * upsert rows (add). Groups whose count reaches zero drop out,
    * matching a from-scratch re-aggregation exactly (PipelineSpec +
    * q147 pin `maintain(agg(base)) == agg(applyCdc(base))`).
    *
    * Scale shape: `oldAgg` is group-cardinality-sized and the batch is
    * small — the only base-table touch is the semi join fetching the
    * affected keys' old rows (broadcast of batch keys; with a
    * key-bucketed or zone-mapped base layout that scan prunes to the
    * touched files, the lakehouse MERGE read path). The 100 TB
    * re-aggregation never happens. Works for any group-sum of
    * subtractable aggregates; count/sum here — min/max would need the
    * full group re-read on delete, which is exactly why production
    * view maintenance restricts itself to abelian aggregates.
    *
    * Same batch-key precondition as [[applyCdc]] (unique, non-null).
    */
  def maintainAgg(oldAgg: DataFrame, base: DataFrame, batch: DataFrame,
                  key: String, grp: String, v: String,
                  opCol: String = "op"): DataFrame = {
    val affectedOld = base
      .join(broadcast(batch.select(key)), Seq(key), "left_semi")
    val minus = affectedOld.groupBy(grp)
      .agg((-count(lit(1))).as("n"), (-sum(col(v))).as("s"))
    val plus = batch.filter(col(opCol) === "U").groupBy(grp)
      .agg(count(lit(1)).as("n"), sum(col(v)).as("s"))
    oldAgg.select(col(grp), col("n"), col("s"))
      .unionByName(minus).unionByName(plus)
      .groupBy(grp)
      .agg(sum(col("n")).cast("long").as("n"), sum(col("s")).as("s"))
      .filter(col("n") > 0)
  }

  /** Replay a CDC log directory of immutable `batch=<epoch>/`
    * segments (as [[absorbSummaryBatch]] and [[absorbTopKBatch]] write
    * them) onto `base` with [[snapshotAt]]:
    * segments apply in epoch order; `version` (default: all) bounds
    * the prefix, so any historical snapshot stays readable. The
    * directory listing is O(log length) driver work — the same
    * bounded-manifest contract as the zone map — and each segment
    * applies as one broadcast anti-join.
    */
  def replayLog(spark: org.apache.spark.sql.SparkSession, base: DataFrame,
                logDir: String, key: String,
                version: Int = Int.MaxValue): DataFrame = {
    val segs = logSegments(logDir)
    val take = math.min(version, segs.size)
    snapshotAt(base, segs.map(f => graft.engine.Pq.read(spark, f.getPath)), take, key)
  }

  /** Epoch-ordered CDC log segment directories. */
  private def logSegments(logDir: String): Seq[java.io.File] =
    Option(new java.io.File(logDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .sortBy(f => f.getName.stripPrefix("batch=").toLong)

  /** [[replayLog]] bounded by EPOCH id rather than segment count: the
    * snapshot as of just before `epoch` wrote. This is the pre-batch
    * view [[absorbSummaryBatch]] maintains against — bounding by id
    * (not count) keeps a REPLAYED epoch from seeing its own crashed
    * half-write as history.
    */
  def replayLogBefore(spark: org.apache.spark.sql.SparkSession,
                      base: DataFrame, logDir: String, key: String,
                      beforeEpoch: Long): DataFrame = {
    val segs = logSegments(logDir)
      .filter(_.getName.stripPrefix("batch=").toLong < beforeEpoch)
    snapshotAt(base, segs.map(f => graft.engine.Pq.read(spark, f.getPath)),
      segs.size, key)
  }

  // ------------------------------------------------------------------
  // The versioned maintained-view STORE — hash-bucketed, rewrite-only-
  // touched-buckets (the Delta/Materialize shape). A version is NOT a
  // full materialization: it is a tiny manifest `_VERSIONS/v=<epoch>`
  // mapping each of `nb` group-hash buckets to the epoch whose
  // immutable `delta/e=<thatEpoch>/gb=<bucket>/` directory holds that
  // bucket's current rows. An epoch rewrites ONLY the buckets
  // containing groups its batch touched (batch-bounded) and carries
  // every other bucket forward BY REFERENCE — the manifest line just
  // repeats the previous content epoch. At 100 TB group cardinalities
  // (10^8-10^9 per-user summaries) this is what makes the view store
  // writable: per epoch the store writes O(|batch| worth of buckets)
  // in parallel tasks, never the full group-cardinality summary
  // through one serialization point.
  // ------------------------------------------------------------------

  private val VersionsRel = "_VERSIONS"

  /** The group's store bucket — computed as a COLUMN everywhere (one
    * hash definition; no driver/executor mismatch possible). */
  private def bucketCol(grp: String, nb: Int) =
    pmod(xxhash64(col(grp)), lit(nb)).cast("int")

  /** Write `df`'s buckets as the immutable epoch delta
    * `delta/e=<epoch>/gb=<bucket>/`: one write task per bucket
    * (parallel in the bucket count — the `coalesce(1)` this store
    * exists to avoid), whole-directory overwrite so an epoch REPLAY
    * reconstructs it bit-identically. */
  private def writeEpochBuckets(df: DataFrame, storeDir: String,
      epoch: Long, grp: String, nb: Int): Unit =
    df.withColumn("gb", bucketCol(grp, nb))
      .repartition(nb, col("gb"))
      .write.mode("overwrite").partitionBy("gb")
      .parquet(s"$storeDir/delta/e=$epoch")

  /** Commit version `epoch`: one atomic manifest rename (REPLACE, so
    * a replayed epoch re-commits idempotently). Readers see a version
    * only once its manifest exists — a crash after the delta write
    * but before this rename leaves an invisible orphan delta. */
  private def commitVersion(storeDir: String, epoch: Long, nb: Int,
      map: Map[Int, Long]): Unit = {
    val vd = new java.io.File(storeDir, VersionsRel)
    vd.mkdirs()
    val tmp = new java.io.File(vd, s".tmp-$epoch-" +
      java.util.UUID.randomUUID().toString.take(8))
    val body = (s"nb=$nb" +: map.toSeq.sortBy(_._1)
      .map { case (b, ce) => s"$b,$ce" }).mkString("\n")
    java.nio.file.Files.writeString(tmp.toPath, body)
    // REPLACE is safe here and only here: the sole way v=<epoch> can
    // already exist is this same epoch's crashed/replayed attempt,
    // whose inputs (log prefix, previous version) are bounded by
    // id < epoch — so both commits carry identical bytes
    graft.engine.Fs.renameReplace(tmp, new java.io.File(vd, s"v=$epoch"))
  }

  /** Parse version `epoch`'s manifest: (nb, bucket → content epoch). */
  private def readVersionManifest(storeDir: String,
      epoch: Long): (Int, Map[Int, Long]) = {
    val f = new java.io.File(storeDir, s"$VersionsRel/v=$epoch")
    val lines = java.nio.file.Files.readAllLines(f.toPath)
      .toArray(Array.empty[String]).toSeq
    (lines.head.stripPrefix("nb=").toInt,
      lines.tail.map { l =>
        val Array(b, ce) = l.split(",")
        b.toInt -> ce.toLong
      }.toMap)
  }

  /** Read the store at one committed version: the manifest's bucket →
    * content-epoch map resolves to O(nb) immutable bucket directories
    * (a bucket whose content is empty wrote no directory — skipped).
    * O(nb) plan nodes, never a listing of the data tier. */
  private def readStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, epoch: Long): DataFrame = {
    val (_, map) = readVersionManifest(storeDir, epoch)
    val frames = map.toSeq.sortBy(_._1).flatMap { case (b, ce) =>
      val d = new java.io.File(storeDir, s"delta/e=$ce/gb=$b")
      if (d.isDirectory) Some(graft.engine.Pq.read(spark, d.getPath)) else None
    }
    require(frames.nonEmpty,
      s"store at $storeDir v=$epoch holds no rows in any bucket")
    frames.reduce(_ unionByName _)
  }

  /** The store buckets containing the touched groups — the OLD groups
    * of the batch's keys (`affectedOld`, the one pruned base read the
    * epoch pays, persisted by the caller and reused for the delta)
    * plus the upsert rows' groups. Batch-bounded — the collect
    * returns at most `nb` ints. */
  private def touchedBuckets(affectedOld: DataFrame, batch: DataFrame,
      grp: String, nb: Int, opCol: String = "op"): Set[Int] =
    affectedOld.select(grp)
      .unionByName(batch.filter(col(opCol) === "U").select(grp))
      .select(bucketCol(grp, nb).as("gb")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** One epoch of the maintained-summary loop (oracled by q158): the
    * change batch lands as the immutable CDC log segment
    * `batch=<epoch>/` AND is absorbed into the bucketed versioned
    * summary store via [[maintainAgg]] — the materialized view
    * advances in O(|batch|) while the log keeps every snapshot
    * readable.
    *
    * Per epoch the store rewrites ONLY the buckets containing touched
    * groups (every group [[maintainAgg]]'s minus/plus sides can
    * change hashes into one of them, so restricting the old summary
    * to those buckets is exact — untouched buckets' rows are
    * bit-identical and carry forward by manifest reference), in
    * parallel bucket-count tasks. `nBuckets` sizes the store to the
    * GROUP cardinality (8 covers test fixtures; thousands at 10^9
    * groups — each bucket stays one task's worth of rows).
    *
    * Exactly-once under epoch replays: the log segment and the epoch
    * delta are per-epoch directory OVERWRITES, the manifest commit an
    * atomic REPLACE rename, the pre-batch snapshot replays only
    * segments with id < epoch, and the previous summary is the
    * highest committed version < epoch — so a crashed epoch's
    * half-writes are invisible to its retry, which reconstructs
    * delta and manifest bit-identically. Same batch-key
    * preconditions as [[applyCdc]].
    *
    * Scale shape: the base table is touched only through the
    * batch-key broadcast semi joins (old-group lookup + delta build)
    * — the replayed snapshot view is lazy lineage, never a
    * materialization — so the 100 TB re-aggregation never happens,
    * and no group-cardinality-sized frame ever crosses one task.
    */
  def absorbSummaryBatch(batch: DataFrame, base: DataFrame,
      logDir: String, summaryDir: String, key: String, grp: String,
      v: String, epoch: Long, nBuckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    b.coalesce(1).write.mode("overwrite")
      .parquet(s"$logDir/batch=$epoch")
    val pre = replayLogBefore(spark, base, logDir, key, epoch)
    summaryVersions(summaryDir).filter(_ < epoch).lastOption match {
      case None =>
        // bootstrap: the full summary, every bucket written once
        val full = maintainAgg(
          base.groupBy(grp)
            .agg(count(lit(1)).as("n"), sum(col(v)).as("s")),
          pre, b, key, grp, v)
        writeEpochBuckets(full, summaryDir, epoch, grp, nBuckets)
        commitVersion(summaryDir, epoch, nBuckets,
          (0 until nBuckets).map(_ -> epoch).toMap)
      case Some(prevE) =>
        val (nb, prevMap) = readVersionManifest(summaryDir, prevE)
        // the ONE pruned base read of the epoch: the batch keys' old
        // rows, persisted and reused for BOTH the touched-bucket set
        // and the maintenance delta ([[maintainAgg]]'s minus side)
        val affectedOld = pre
          .join(broadcast(b.select(key)), Seq(key), "left_semi")
          .persist()
        val touched = touchedBuckets(affectedOld, b, grp, nb)
        if (touched.nonEmpty) {
          val oldTouched = readStoreBuckets(spark, summaryDir,
            prevMap.filter(kv => touched(kv._1)))
          val minus = affectedOld.groupBy(grp)
            .agg((-count(lit(1))).as("n"), (-sum(col(v))).as("s"))
          val plus = b.filter(col("op") === "U").groupBy(grp)
            .agg(count(lit(1)).as("n"), sum(col(v)).as("s"))
          val newTouched = oldTouched.select(col(grp), col("n"), col("s"))
            .unionByName(minus).unionByName(plus)
            .groupBy(grp)
            .agg(sum(col("n")).cast("long").as("n"), sum(col("s")).as("s"))
            .filter(col("n") > 0)
          writeEpochBuckets(newTouched, summaryDir, epoch, grp, nb)
        }
        affectedOld.unpersist()
        commitVersion(summaryDir, epoch, nb,
          prevMap ++ touched.map(_ -> epoch))
    }
    b.unpersist()
    ()
  }

  /** The union of specific (bucket → content epoch) directories —
    * the restricted old-view read behind touched-bucket maintenance.
    * Empty selection (or all-empty buckets) yields an empty frame
    * shaped by a sibling bucket; a store with no rows at all cannot
    * arise here (the bootstrap epoch writes first). */
  private def readStoreBuckets(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, sel: Map[Int, Long]): DataFrame = {
    val frames = sel.toSeq.sortBy(_._1).flatMap { case (b, ce) =>
      val d = new java.io.File(storeDir, s"delta/e=$ce/gb=$b")
      if (d.isDirectory) Some(graft.engine.Pq.read(spark, d.getPath)) else None
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      // every selected bucket is empty: borrow any existing bucket
      // directory for the schema and filter it to nothing
      val any = Option(new java.io.File(storeDir, "delta").listFiles())
        .toSeq.flatten.filter(_.isDirectory)
        .flatMap(e => Option(e.listFiles()).toSeq.flatten)
        .find(d => d.isDirectory && d.getName.startsWith("gb="))
        .getOrElse(throw new IllegalStateException(
          s"store at $storeDir has no bucket directories"))
      graft.engine.Pq.read(spark, any.getPath).filter(lit(false))
    }
  }

  /** One epoch of the NON-ABELIAN maintained-view loop — the top-k
    * sibling of [[absorbSummaryBatch]] (oracled by q173): the change
    * batch lands as the immutable log segment `batch=<epoch>/` AND
    * advances the bucketed versioned per-group top-`k` view store via
    * [[maintainTopK]] — touched groups re-read from the pre-batch
    * snapshot (the honest non-abelian contract: a demoted member's
    * replacement was never materialized), untouched groups pass
    * through, and only the BUCKETS containing touched groups are
    * rewritten (untouched buckets carry forward by manifest
    * reference — restricting the old view to touched buckets is
    * exact because [[maintainTopK]] only changes touched groups'
    * rows, all of which hash into touched buckets).
    *
    * Exactly-once under epoch replays for the same reason as the
    * summary sibling: log segment and epoch delta are per-epoch
    * overwrites, the manifest commit an atomic REPLACE rename, and
    * both inputs (log prefix, previous committed version) are
    * bounded by id < epoch. Scale shape: the view is
    * (groups × k)-sized but never materializes through one task; the
    * base is touched only through the batch-bounded touched-group
    * semi joins.
    */
  def absorbTopKBatch(batch: DataFrame, base: DataFrame,
      logDir: String, viewDir: String, key: String, grp: String,
      v: String, k: Int, epoch: Long, nBuckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    b.coalesce(1).write.mode("overwrite")
      .parquet(s"$logDir/batch=$epoch")
    val pre = replayLogBefore(spark, base, logDir, key, epoch)
    summaryVersions(viewDir).filter(_ < epoch).lastOption match {
      case None =>
        val full = maintainTopK(topKView(pre, key, grp, v, k),
          pre, b, key, grp, v, k)
        writeEpochBuckets(full, viewDir, epoch, grp, nBuckets)
        commitVersion(viewDir, epoch, nBuckets,
          (0 until nBuckets).map(_ -> epoch).toMap)
      case Some(prevE) =>
        val (nb, prevMap) = readVersionManifest(viewDir, prevE)
        // one pruned base read resolves the touched GROUPS (persisted:
        // it feeds the bucket set, the pass-through anti join and the
        // merged-group re-read — [[maintainTopK]]'s exact shape, the
        // re-read being the honest non-abelian contract)
        val touchedGroups = pre
          .join(broadcast(b.select(key)), Seq(key), "left_semi")
          .select(grp)
          .unionByName(b.filter(col("op") === "U").select(grp))
          .distinct().persist()
        val touched = touchedGroups
          .select(bucketCol(grp, nb).as("gb")).distinct()
          .collect().map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val oldTouched = readStoreBuckets(spark, viewDir,
            prevMap.filter(kv => touched(kv._1)))
          val untouched = oldTouched
            .join(broadcast(touchedGroups), Seq(grp), "left_anti")
          val merged = applyCdc(
            pre.join(broadcast(touchedGroups), Seq(grp), "left_semi")
              .select(col(grp), col(key), col(v)),
            b.select(col(grp), col(key), col(v), col("op")),
            key)
          writeEpochBuckets(
            untouched.unionByName(topKView(merged, key, grp, v, k)),
            viewDir, epoch, grp, nb)
        }
        touchedGroups.unpersist()
        commitVersion(viewDir, epoch, nb,
          prevMap ++ touched.map(_ -> epoch))
    }
    b.unpersist()
    ()
  }

  /** Committed store versions under `summaryDir`, ascending — the
    * manifest listing (O(versions) driver work; [[pruneSummaries]]
    * bounds it). */
  def summaryVersions(summaryDir: String): Seq[Long] =
    Option(new java.io.File(summaryDir, VersionsRel).listFiles())
      .toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong).sorted

  /** Read the maintained summary at `version` (default: latest). */
  def readSummary(spark: org.apache.spark.sql.SparkSession,
      summaryDir: String, version: Long = Long.MaxValue): DataFrame = {
    val vs = summaryVersions(summaryDir)
    require(vs.nonEmpty, s"no summary versions under $summaryDir")
    readStore(spark, summaryDir, pickVersion(summaryDir, version))
  }

  private def pickVersion(summaryDir: String, version: Long): Long =
    summaryVersions(summaryDir).filter(_ <= version).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no summary version <= $version under $summaryDir"))

  /** POINT LOOKUP into the versioned view store — the serving read
    * ("this user's summary, now") the bucketed layout exists to make
    * cheap: hash the requested group literals with the same xxhash64
    * the writer used, resolve the version manifest, and read ONLY the
    * buckets those groups live in, with the group filter pushed into
    * the bucket scan. At 10^9 groups and a few thousand buckets a
    * lookup reads a few thousandths of the store — O(|groups| ·
    * bucket size), never the view. Groups are STRING literals (the
    * store hashes the raw group column; a non-string group column
    * would hash these literals differently — extend the literal
    * bucket evaluation to other types before passing them).
    */
  def readSummaryGroups(spark: org.apache.spark.sql.SparkSession,
      summaryDir: String, grp: String, groups: Seq[String],
      version: Long = Long.MaxValue): DataFrame = {
    require(groups.nonEmpty, "readSummaryGroups needs group literals")
    require(summaryVersions(summaryDir).nonEmpty,
      s"no summary versions under $summaryDir")
    val pick = pickVersion(summaryDir, version)
    val (nb, map) = readVersionManifest(summaryDir, pick)
    val wanted = groups.map(g => literalBucket(g, nb)).toSet
    readStoreBuckets(spark, summaryDir,
        map.filter(kv => wanted(kv._1)))
      .filter(col(grp).isin(groups: _*))
  }

  /** The store bucket of one group LITERAL, via the identical
    * Catalyst xxhash64 (seed 42) [[bucketCol]] plans — one hash
    * definition on both sides, no driver/executor divergence. */
  private def literalBucket(g: String, nb: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions
      .XxHash64(Seq(org.apache.spark.sql.catalyst.expressions
        .Literal(org.apache.spark.unsafe.types.UTF8String.fromString(g),
          org.apache.spark.sql.types.StringType)), 42L)
      .eval().asInstanceOf[Long]
    ((h % nb) + nb).toInt % nb
  }

  /** Retention for the versioned summary store — the Delta `VACUUM`
    * of this tier: keep the newest `keepLast` version MANIFESTS,
    * delete the rest, then reclaim the bucket directories no
    * surviving manifest references (buckets are SHARED across
    * versions by reference, so this is per-bucket reference
    * counting). Returns how many versions were pruned. Without it
    * [[absorbSummaryBatch]] grows one version per epoch FOREVER — the
    * last unbounded-growth loop in the maintained-summary composition
    * (the log side already has [[rebaseLog]], the zone-map side
    * `compactManifest`+`vacuum`).
    *
    * Contract: retention trades TIME TRAVEL for space — after pruning,
    * [[readSummary]] at a pruned version fails loudly (its `require`)
    * rather than silently serving a newer one. Maintenance stays
    * correct because [[absorbSummaryBatch]] (and [[absorbTopKBatch]])
    * only ever read the HIGHEST committed version below the incoming
    * epoch as the predecessor, and pruning keeps the newest versions:
    * any `keepLast >= 1` preserves the maintenance chain. Re-running
    * an epoch (the exactly-once argument in [[absorbSummaryBatch]])
    * needs that epoch's predecessor version still present, so a
    * caller that may retry its last epoch prunes with `keepLast >= 2`;
    * with `keepLast = 1` the retry would fall into the bootstrap path
    * and re-commit the epoch with DIFFERENT bytes, breaking the
    * identical-bytes REPLACE argument. A caller whose absorbs have all
    * returned has nothing to retry, so `keepLast = 1` is legitimate
    * there (q163's roundtrip).
    * Delta directories of epochs STRICTLY NEWER than the newest
    * committed version are never swept — they belong to an in-flight
    * or replayable absorb whose manifest commit hasn't landed.
    *
    * Scale shape: one driver-side manifest listing plus `O(epoch
    * dirs × buckets)` existence checks and unreferenced-bucket
    * deletes — metadata work bounded by retention, never a data scan.
    */
  def pruneSummaries(summaryDir: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val vs = summaryVersions(summaryDir)
    if (vs.isEmpty) return 0 // nothing committed: every delta dir
    // belongs to an in-flight (or crashed-and-replayable) first epoch
    val newestCommitted = vs.last
    val drop = vs.dropRight(keepLast)
    // retire manifests first: a pruned version becomes unreadable
    // atomically, before any data it exclusively references goes
    drop.foreach { e =>
      new java.io.File(summaryDir, s"$VersionsRel/v=$e").delete()
    }
    // then reclaim bucket directories no SURVIVING manifest references
    // (untouched buckets are shared across versions by reference, so
    // reclamation is per-bucket reference counting, never per-version)
    val referenced: Set[(Long, Int)] = vs.takeRight(keepLast)
      .flatMap { e =>
        readVersionManifest(summaryDir, e)._2.toSeq
          .map { case (b, ce) => (ce, b) }
      }.toSet
    val deltaRoot = new java.io.File(summaryDir, "delta")
    Option(deltaRoot.listFiles()).toSeq.flatten
      // foreign (non-numeric) dirs are tolerated, like everywhere
      // else in this store's listings — never parsed, never swept
      .filter(f => f.isDirectory && f.getName.startsWith("e=") &&
        f.getName.stripPrefix("e=").nonEmpty &&
        f.getName.stripPrefix("e=").forall(_.isDigit))
      // epochs STRICTLY newer than the newest committed manifest are
      // an in-flight (or replayable) absorb's staged delta — its
      // manifest commit hasn't happened yet, so "unreferenced" does
      // not mean dead. Skipping them closes the race where a prune
      // running beside an in-flight absorb deletes the new epoch's
      // buckets and the subsequent commit silently references missing
      // dirs (readStoreBuckets skips absent dirs — rows would vanish
      // without error).
      .filter(_.getName.stripPrefix("e=").toLong <= newestCommitted)
      .foreach { ed =>
        val ce = ed.getName.stripPrefix("e=").toLong
        Option(ed.listFiles()).toSeq.flatten
          .filter(d => d.isDirectory && d.getName.startsWith("gb="))
          .foreach { bd =>
            val b = bd.getName.stripPrefix("gb=").toInt
            if (!referenced((ce, b)))
              graft.engine.Bucketing.deleteTree(bd)
          }
        // an epoch dir left with no referenced bucket is a husk
        if (!Option(ed.listFiles()).toSeq.flatten
            .exists(d => d.isDirectory && d.getName.startsWith("gb=")))
          graft.engine.Bucketing.deleteTree(ed)
      }
    drop.size
  }

  /** Retention for [[rebaseLog]]'s `_REBASED_<epoch>` markers: only
    * the HIGHEST marker is load-bearing (it records the top epoch
    * folded into the current checkpoint); older ones are retired
    * lineage. Keeps the newest `keepLast`, returns how many were
    * removed. Driver-side metadata only. */
  def pruneRebaseMarkers(rootDir: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val marks = Option(new java.io.File(rootDir).listFiles())
      .toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("_REBASED_"))
      .sortBy(_.getName.stripPrefix("_REBASED_").toLong)
    val drop = marks.dropRight(keepLast)
    drop.foreach(_.delete())
    drop.size
  }

  /** The top-`k`-per-group view (by `v` DESC, `key` ASC — the
    * deterministic tie-break [[maintainTopK]] and its oracle share).
    * Output: (grp, key, v, rank). */
  def topKView(base: DataFrame, key: String, grp: String, v: String,
               k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(grp).orderBy(desc(v), asc(key))
    base.select(col(grp), col(key), col(v))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Incrementally maintain a per-group TOP-K view under one CDC
    * batch — the NON-ABELIAN counterpart of [[maintainAgg]]: a
    * deleted or demoted member's replacement is not derivable from
    * the view (rank k+1 was never materialized), so min/max/top-k
    * maintenance fundamentally needs the base again. The honest
    * production shape is re-read-affected-groups-only: groups touched
    * by the batch (the upserts' groups plus the OLD groups of every
    * batch key — an upsert can move a row across groups) recompute
    * their top-k from the merged group contents; every other group's
    * view rows pass through untouched. Equals the from-scratch view
    * of the merged table exactly (PipelineSpec + q162 pin it).
    *
    * Scale shape: touched groups are batch-bounded, ride as
    * broadcasts, and with a group-partitioned/bucketed base layout
    * the group re-read is a pruned scan — the lakehouse MERGE read
    * path; the view never recomputes the untouched 99.99% of groups.
    * Same batch-key preconditions as [[applyCdc]].
    */
  def maintainTopK(oldView: DataFrame, base: DataFrame, batch: DataFrame,
                   key: String, grp: String, v: String, k: Int,
                   opCol: String = "op"): DataFrame = {
    val touched = base
      .join(broadcast(batch.select(key)), Seq(key), "left_semi")
      .select(grp)
      .unionByName(batch.filter(col(opCol) === "U").select(grp))
      .distinct()
    val untouched = oldView
      .join(broadcast(touched), Seq(grp), "left_anti")
    val merged = applyCdc(
      base.join(broadcast(touched), Seq(grp), "left_semi")
        .select(col(grp), col(key), col(v)),
      batch.select(col(grp), col(key), col(v), col(opCol)),
      key, opCol)
    untouched.unionByName(topKView(merged, key, grp, v, k))
  }

  /** Re-base a CDC log — the CHECKPOINT lever [[snapshotAt]]'s
    * scaladoc promises: materialize the current snapshot (base + all
    * log segments) as a new base table on disk, then retire the
    * folded segments, so future replays fold `O(new segments)`
    * batches instead of the full history. Replay depth is what makes
    * a long-lived CDC table slow — every lakehouse format periodically
    * checkpoints for exactly this reason; at 100 TB the rebase is one
    * full-table write (amortized over the hundreds of batches it
    * retires), and the alternative — unbounded anti-join lineage — is
    * the thing that stops scaling.
    *
    * Directory protocol under `rootDir`: `base/` (absent until the
    * first rebase — `origBase` serves reads before that),
    * `log/batch=<epoch>/` segments, and a `_REBASED_<epoch>` marker
    * recording the highest epoch folded in. The new base publishes
    * via [[graft.engine.Bucketing.atomicStage]]'s two-rename swap
    * (readers see old or new, never half), the marker lands after it,
    * and folded segments are deleted last — a crash between those
    * steps only re-applies already-folded batches, which
    * [[applyCdc]]'s anti-join semantics make IDEMPOTENT (re-upserting
    * an already-upserted key, re-deleting an absent one: same
    * snapshot). Returns the number of segments folded.
    */
  def rebaseLog(spark: org.apache.spark.sql.SparkSession,
                origBase: DataFrame, rootDir: String,
                key: String): Int = {
    val baseDir = new java.io.File(rootDir, "base")
    val logDir = new java.io.File(rootDir, "log").getPath
    val segs = logSegments(logDir)
    if (segs.isEmpty) return 0
    val cur = currentBase(spark, origBase, rootDir)
    val snapshot = snapshotAt(cur,
      segs.map(f => graft.engine.Pq.read(spark, f.getPath)), segs.size, key)
    val top = segs.last.getName.stripPrefix("batch=").toLong
    graft.engine.Bucketing.atomicStage(baseDir, force = true) { tmp =>
      snapshot.write.mode("overwrite").parquet(tmp.getPath)
    }
    new java.io.File(rootDir, s"_REBASED_$top").createNewFile()
    segs.foreach(graft.engine.Bucketing.deleteTree)
    segs.size
  }

  /** The current base of a re-basable log root: the last materialized
    * checkpoint if one exists, the original table otherwise. */
  def currentBase(spark: org.apache.spark.sql.SparkSession,
                  origBase: DataFrame, rootDir: String): DataFrame = {
    val baseDir = new java.io.File(rootDir, "base")
    if (new java.io.File(baseDir, "_SUCCESS").isFile)
      graft.engine.Pq.read(spark, baseDir.getPath)
    else origBase
  }

  /** Snapshot of a re-basable log root: checkpoint (or original)
    * base + every live log segment. Replay cost after a rebase is
    * the segments written SINCE it — the whole point. */
  def snapshotOf(spark: org.apache.spark.sql.SparkSession,
                 origBase: DataFrame, rootDir: String,
                 key: String): DataFrame =
    replayLog(spark, currentBase(spark, origBase, rootDir),
      new java.io.File(rootDir, "log").getPath, key)

  /** Deterministic probability-proportional-to-size (Poisson/IPPS)
    * sampling targeting ~`targetDocs` draws: doc `i` with integer
    * weight `w_i` (token count) is kept with inclusion probability
    * `p_i = min(1, targetDocs·w_i / W)` where `W = Σw` — the classic
    * size-biased corpus sample, with `ht_weight = 1/p_i` emitted so
    * downstream statistics can be Horvitz-Thompson-unbiased.
    *
    * Same determinism contract as [[systematicSample]]: the draw is
    * `charHash(text) mod M < thresh_i` with
    * `thresh_i = min(M, (targetDocs·w_i·M) div W)` — all exact integer
    * arithmetic (magnitudes: `targetDocs·w_i·M` must stay under 2^63,
    * i.e. `targetDocs·w_max < 9·10^12`; ANSI mode turns an overflow
    * into a loud error, never a silent wrap), so the sample is a pure
    * function of content, invariant under partitioning and engine.
    * `ht_weight = M/thresh_i` is the realized
    * (post-floor) inverse probability: one IEEE division of
    * exactly-representable integers, bitwise portable.
    *
    * Scale shape: one partial-aggregated `sum(w)` reduced to a 1-row
    * frame and broadcast back (never a driver collect), then a pure
    * per-row codegen'd filter — no other shuffle at any corpus size.
    */
  def weightedSample(docs: DataFrame, targetDocs: Long): DataFrame = {
    require(targetDocs > 0, s"targetDocs must be > 0: $targetDocs")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val M = graft.operators.TextOps.HashP
    val weighted = docs
      .withColumn("n_tokens", expr("bigint(size(split(text, ' ')))"))
    val tot = weighted.agg(sum("n_tokens").as("total_w"))
    weighted
      .crossJoin(broadcast(tot))
      .withColumn("thresh", least(lit(M),
        expr(s"($targetDocs * n_tokens * ${M}L) div total_w")))
      .filter(expr(s"char_poly_hash(text) % ${M}L") < col("thresh"))
      .withColumn("ht_weight",
        lit(M).cast("double") / col("thresh").cast("double"))
      .drop("total_w")
  }

  /** Train/test contamination check: for every test doc, count distinct
    * train docs sharing at least one word n-gram, via the inverted-
    * index join (shingle-keyed shuffle — never a cross join). The
    * output is per-test-doc so offending documents are actionable.
    */
  def contamination(train: DataFrame, test: DataFrame, n: Int = 8): DataFrame = {
    // Persist the shingled frames before exploding: a Generate over the
    // higher-order shingle expression re-evaluates the chain per row
    // (same pathology as in Dedup.minhashSignatures — measured 7×).
    def shingled(df: DataFrame, idCol: String): DataFrame =
      TextOps.withShingles(df, n)
        .select(col("doc_id").as(idCol), col("shingles"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tr = shingled(train, "train_id")
      .select(col("train_id"), explode(col("shingles")).as("sh"))
    val te = shingled(test, "test_id")
      .select(col("test_id"), explode(col("shingles")).as("sh"))
    te.join(tr, "sh")
      .groupBy("test_id")
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        count(lit(1)).as("n_shared_ngrams"))
      .orderBy("test_id")
  }
}
