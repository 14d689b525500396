package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-pinned parquet reads (optimization round 18, guide §1/§6).
  *
  * Every schemaless `spark.read.parquet(path)` pays a parquet FOOTER
  * INFERENCE pass before the query can even plan — on this engine's
  * serving paths that is a 1-task Spark job plus ~50–150 ms of driver
  * latency PER READ, and an index query makes 5–15 such reads (one per
  * segment artifact plus the fixture tables). Measured via
  * `graft.Run probe`: the index-lifecycle queries spend more wall
  * time scheduling footer jobs than computing. A real catalog (Hive,
  * Iceberg, Delta) stores the schema in table metadata precisely so
  * readers never pay this; this object is that catalog layer for the
  * engine's path-addressed artifacts.
  *
  * [[read]] caches the INFERRED SCHEMA ONLY — never rows, never
  * results — keyed by the path's canonical form plus its mtime and
  * length, so any republish (the engine's writers all go through
  * write-new-then-rename or full-directory overwrite, both of which
  * touch the directory entry) re-infers. Data files appended to an
  * existing directory change its mtime too; and a pure data change
  * with an UNCHANGED schema is invisible to planning by construction —
  * the cache only ever answers "what columns does this path have".
  *
  * This is NOT result caching: every query still reads every byte it
  * needs from parquet on every invocation. The cache is in-process
  * metadata, exactly what `spark.catalog` holds for registered tables.
  */
object Pq {

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  /** Read a parquet file/directory with the footer-inferred schema
    * memoized per (canonical path, mtime, length). First read infers
    * and caches; subsequent reads of the unchanged path skip the
    * footer pass entirely (`spark.read.schema(...)`), which for a
    * Hive-partitioned directory also pins the partition-column types
    * the first inference chose.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val key = (f.getCanonicalPath, f.lastModified, f.length)
    val cached = schemas.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.put(key, df.schema)
      df
    }
  }

  /** The memoized schema of one path (inferring on miss, same key
    * discipline as [[read]]) without building the final DataFrame. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val f = new java.io.File(path)
    val key = (f.getCanonicalPath, f.lastModified, f.length)
    val cached = schemas.get(key)
    if (cached != null) cached
    else {
      val s = spark.read.parquet(path).schema
      schemas.put(key, s)
      s
    }
  }

  /** Multi-path read under the SAME-WRITER contract: every path was
    * written by one code path with one schema (the engine's manifest
    * segments, zone-map unit files), so the first path's memoized
    * schema serves the whole set and the N-footer inference pass
    * disappears. NOT for sparse unions (e.g. `_stored`, where
    * segments legitimately differ in columns) — those must infer or
    * [[read]] per path. */
  def readMany(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(spark, paths.head)).parquet(paths: _*)

  /** Test seam + session hygiene: forget every cached schema. */
  def invalidateAll(): Unit = schemas.clear()
}
