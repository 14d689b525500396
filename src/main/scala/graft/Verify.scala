package graft

import java.nio.file.{Files, Paths}

import graft.gate.QueryGate.jsonEscape

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Run.session()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q1,q2 dumps just those entries (and
    // just their oracle rows) — the builder's targeted-iteration
    // knob; unset = the driver's full dump.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // Ingest-time staging (indexes etc.) up front: entries then run in
    // their query-many posture.
    Run.stage(spark, sfDir)
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal persists are per-invocation; drop them so 74
      // queries don't accumulate dead cached RDDs in one session
      spark.catalog.clearCache()
    }
    // Escaped strings: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = "\"" + jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
