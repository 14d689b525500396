package graft.engine

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.{Run, SparkEntry, SparkSpec}
import graft.api.HttpApi

/** A warm query shape compiles no class: Spark's compiled-code cache
  * hits across entries, AQE stages and per-request sessions. Compiles
  * are Janino compiles as `CodegenMetrics` counts them ([[Run.compiled]]);
  * a cache hit counts none. With any one of the three settings behind
  * it at Spark's default, one of these tests fails:
  * [[Tuning.CodegenCacheMaxEntriesKey]] or [[Tuning.CodegenIdInClassNameKey]]
  * the first, [[Tuning.ArtifactIsolationKey]] the second.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(body: => Unit): Long = {
    val before = Run.compiled()._1
    body
    Run.compiled()._1 - before
  }

  private def run(name: String): Unit = {
    Run.materialize(SparkEntry.queries(name)(spark, sf001))
    spark.catalog.clearCache()
  }

  test("a warm entry compiles no class when it runs again after another entry") {
    // q196 generates more classes than Spark's default cache holds, so
    // under the default it evicts q253's; and q253's AQE stages are
    // numbered in a different order from run to run
    val (q253, q196) = ("q253_simple_query_string", "q196_rollover_family")
    Seq(q253, q196, q253, q196).foreach(run)
    val n = compiles(run(q253))
    assert(n == 0, s"$q253 compiled $n classes on a warm run")
  }

  test("a repeated /query/ aggregate compiles no class in its per-request " +
    "session") {
    val sql = "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      "sum(l_quantity) AS qty FROM lineitem " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    val indexRoot = java.nio.file.Files.createTempDirectory("codegen-index").toString
    val api = HttpApi.start(spark, indexRoot, log = _ => ())
    val client = HttpClient.newHttpClient()
    val request = HttpRequest.newBuilder(java.net.URI.create(
      s"http://localhost:${api.port}/query/?dbDriver=parquet" +
        s"&dbName=${URLEncoder.encode(sf001, "UTF-8")}" +
        s"&query=${URLEncoder.encode(sql, "UTF-8")}")).GET().build()
    def get(): String = {
      val r = client.send(request, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    try {
      val first = get()
      var second = ""
      val n = compiles { second = get() }
      assert(second == first)
      assert(n == 0, s"the second request compiled $n classes")
    } finally api.stop()
  }
}
