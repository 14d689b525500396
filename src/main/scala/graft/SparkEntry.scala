package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{LlmSurface, SqlSurface}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q3-shaped join+agg+topk — exercises scan, filter pushdown,
    * broadcast join, hash agg and TakeOrderedAndProject in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    SqlSurface.queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SqlSurface.queries ++ LlmSurface.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    SqlSurface.oracles ++ LlmSurface.oracles

  /** Ingest-time staging for the fixture at `sfDir` — the write-once
    * half of every write-once/query-many operator, split out so query
    * entries measure PROBE cost only (a search engine's index build is
    * not part of its query latency). Idempotent: each staged artifact
    * is keyed by the fixture dir and built at most once per catalog.
    * Harmless to skip — entries degrade to build-on-first-use.
    */
  def stage(spark: SparkSession, sfDir: String): Unit = {
    // Independent ingest writes are independent Spark jobs — submit
    // them concurrently; the scheduler interleaves their stages across
    // the executor pool (on a cluster this divides ingest wall time).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq[Future[Any]](
      // the whole-corpus segment root behind q164 and q105b
      Future(graft.operators.Search.ensureBm25Index(spark, sfDir,
        graft.engine.Tables.table(spark, sfDir, "documents"))),
      Future(SqlSurface.ensureBucketedLineitem(spark, sfDir)),
      Future(SqlSurface.ensureBucketedOrders(spark, sfDir)),
      Future(SqlSurface.ensureZorderedLineitem(spark, sfDir)),
      Future(graft.engine.Bucketing.ensurePartitioned(spark, sfDir,
        graft.engine.Tables.table(spark, sfDir, "documents"),
        Seq("lang"), "docs")),
      // sequential inside one future: ensurePqIndex derives from the
      // IVF index and shares its catalog table — racing them in two
      // threads would double-build the table
      Future {
        graft.operators.Similarity.ensureIvfLearnedIndex(spark, sfDir,
          graft.engine.Tables.table(spark, sfDir, "embeddings"),
          "vec_id < 8")
        graft.operators.Similarity.ensurePqIndex(spark, sfDir,
          graft.engine.Tables.table(spark, sfDir, "embeddings"),
          "vec_id < 8")
      },
      Future(graft.engine.Bucketing.ensurePartitionedZordered(spark, sfDir,
        graft.engine.Tables.table(spark, sfDir, "documents"),
        "lang", Seq("n_chars", "doc_id"), "docs")),
      Future(graft.queries.LlmSurface.ivfAppendStage(spark, sfDir)),
      // the PQ-append base (q175's ingest half) — its own fixture
      // key, so it races neither the shared IVF/PQ future nor
      // ivfAppendStage's
      Future(graft.queries.LlmSurface.pqAppendStage(spark, sfDir)),
      // the pre-rollover family template (q196 clones it per run)
      Future(graft.queries.LlmSurface.rolloverStage(spark, sfDir)),
      // the tile-partitioned geo layout (q245-q248, q265-q266)
      Future(graft.queries.LlmSurface.geoDir(spark, sfDir)),
      // the sparse-mapping index behind the missing agg (q260)
      Future(graft.queries.LlmSurface.segIndexSparseDir(spark, sfDir)),
      // sequential inside one future: all three roots commit via
      // single-writer manifest generations
      Future(graft.queries.LlmSurface.segIndexStage(spark, sfDir)),
      Future(SqlSurface.ensureZonemappedLineitem(spark, sfDir)),
      Future(SqlSurface.zonemapAppendStage(spark, sfDir)))
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
