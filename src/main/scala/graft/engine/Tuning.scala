package graft.engine

import org.apache.spark.sql.SparkSession

/** Session knob the engine's sketch aggregates depend on.
  *
  * `minhash_agg` / `simhash_agg` are `TypedImperativeAggregate`s, so
  * they execute under `ObjectHashAggregateExec`, which falls back to
  * SORT-based aggregation once a task holds
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * aggregation buffers — and Spark's default is 128. Grouping by
  * `doc_id` is high-cardinality (thousands of groups per partition at
  * any realistic scale), so under the default every sketch aggregation
  * silently degrades into a full sort of its exploded token rows —
  * measured as the q32/q34 driver-bench instability in rounds 2–3.
  *
  * The sketch buffers are small and fixed-size (simhash: 64 longs ≈
  * 0.5 KB; minhash: k longs), so 128Ki buffers ≈ 64–128 MB per task —
  * within executor budgets at 100 TB shuffle-partition sizing — and the
  * hash path stays hash. Applied by the engine's one session builder,
  * [[graft.Run.session]], and, defensively, by [[graft.functions
  * .GraftFunctions.register]] when the session still has the Spark
  * default.
  */
object Tuning {
  val ObjectAggFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjectAggFallbackEntries: Int = 128 * 1024

  /** Keep bucketed layouts authoritative: with auto-bucketed-scan on,
    * Spark may discard a catalog table's bucketing when it judges it
    * unhelpful for the query at hand — and with it the bucketed read
    * and bucket pruning of the staged lineitem/orders layouts
    * ([[graft.engine.Bucketing.writeBucketed]]). Session-wide so every
    * query in a suite plans under ONE config — a mid-suite
    * per-operator flip would make later queries' timings incomparable
    * to earlier ones.
    */
  val AutoBucketedScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  /** Read parquet naive (isAdjustedToUTC=false) timestamps as
    * TIMESTAMP, not TIMESTAMP_NTZ. The fixture generator writes plain
    * `timestamp[us]` columns; under Spark 4's NTZ inference those
    * become TIMESTAMP_NTZ, which cannot carry a streaming watermark
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), cannot cast to BIGINT
    * epoch seconds, and diverges from the instant semantics every
    * oracle comparison was verified under. Sessions here run in UTC,
    * where the two readings denote the same wall-clock values — this
    * knob just keeps the engine-facing type stable.
    */
  val InferTimestampNtzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Let AQE re-optimize the partitioning of CACHED plan subtrees
    * (r18 optimization; Spark default false). The graph/dedup
    * operators persist edge/signature frames that several downstream
    * joins consume; with the default, every consumer stage inherits
    * the cached plan's full shuffle-partition fan-out even when the
    * cached data is a few MB — measured as 99-task stages over
    * kilobytes in the triangle count. With AQE free to coalesce,
    * consumer stages size themselves by bytes
    * (`advisoryPartitionSizeInBytes`), which is the correct behavior
    * at EVERY scale: tiny cached frames stop paying scheduling
    * overhead locally, and 100 TB cached frames still fan out wide
    * because their bytes demand it. Results are partitioning-
    * independent by the repo's own determinism contract (order-pinned
    * folds everywhere), and the whole suite is oracle-diffed after
    * the flip. */
  val CachedPlanAqeKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** List partitioned layouts on the driver up to 512 paths before
    * launching a distributed discovery job (r18 optimization; Spark
    * default 32). The engine's hive-partitioned artifacts (geo
    * tiles, IVF cells, shard dirs) sit at 64–256 directories, and on
    * a local/HDFS-class filesystem a serial listing of that many
    * paths costs microseconds while the discovery JOB costs
    * ~0.1–0.2 s of scheduling per read — measured as the
    * "Listing leaf files ... 64 paths" job in every geo query's
    * profile (−25–50% per geo entry after the change). The default
    * 32 targets object-store LIST latency; deployments reading
    * thousand-partition layouts from S3-class storage should lower
    * this back (or front the layout with a manifest catalog, the
    * guide's own recommendation) — which is why it stays a config,
    * not hard-coded behavior. */
  val ParallelListingThresholdKey =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"
  val ParallelListingThreshold: Int = 512

  /** Every knob above with the engine's value: [[apply]] and [[ensure]]
    * both walk this one list, so they cannot drift apart. */
  val Settings: Seq[(String, String)] = Seq(
    ObjectAggFallbackKey -> ObjectAggFallbackEntries.toString,
    AutoBucketedScanKey -> "false",
    InferTimestampNtzKey -> "false",
    CachedPlanAqeKey -> "true",
    ParallelListingThresholdKey -> ParallelListingThreshold.toString)

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    Settings.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Apply every setting on a live session iff the user never set it —
    * never overrides an explicit user setting. "Explicitly set" is
    * membership in `spark.conf.getAll` (the session's settings map,
    * which holds only set entries, not registered defaults): comparing
    * against the default VALUE would clobber a user who deliberately
    * set a knob back to its default.
    */
  def ensure(spark: SparkSession): Unit = {
    val explicitlySet = spark.conf.getAll.keySet
    Settings.foreach { case (k, v) =>
      if (!explicitlySet.contains(k)) spark.conf.set(k, v)
    }
  }
}
