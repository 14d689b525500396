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
    val key = keyOf(path)
    val cached = schemas.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.put(key, df.schema)
      df
    }
  }

  /** Read engine artifact directories named with a leading `_` (the
    * segment tier's `_dict`, `_impacts`, `_complete`, `_stored`,
    * `_cfield`). Spark's file source calls such a ROOT path hidden and
    * logs a two-line `All paths were ignored` WARN on every read (then
    * reads it anyway); naming each directory's data entries instead —
    * its children minus the `_`/`.` names Spark's listing skips —
    * under `basePath=<dir>` reads the same rows and partition columns
    * with no warning. Several directories share one scan only when
    * their entries are plain files (unpartitioned artifacts). With no
    * data entries at all, the result is as before: empty rows under
    * `schema`. Without `schema`, one directory's schema is inferred
    * and memoized as in [[read]]. */
  def readHidden(spark: SparkSession, dirs: Seq[String],
                 schema: Option[StructType] = None): DataFrame = {
    val entries = dirs.flatMap(d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filterNot(f => "_.".contains(f.getName.head)))
    require(dirs.size == 1 || (schema.isDefined && entries.forall(_.isFile)),
      s"readHidden: several directories need a schema and no partitions: $dirs")
    if (entries.isEmpty)
      return schema.fold(read(spark, dirs.head))(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
    val reader =
      if (dirs.size == 1) spark.read.option("basePath", dirs.head)
      else spark.read
    val paths = entries.map(_.getPath)
    val key = keyOf(dirs.head)
    schema.orElse(Option(schemas.get(key))).fold {
      val df = reader.parquet(paths: _*)
      schemas.put(key, df.schema)
      df
    }(reader.schema(_).parquet(paths: _*))
  }

  private def keyOf(path: String): (String, Long, Long) = {
    val f = new java.io.File(path)
    (f.getCanonicalPath, f.lastModified, f.length)
  }

  /** The memoized schema of one path (inferring on miss, same key
    * discipline as [[read]]) without building the final DataFrame. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = keyOf(path)
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
}
