package graft.api

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec

/** End-to-end wire tests of the reference's three routes over a real
  * (loopback) HTTP server: envelopes, status codes, and the bulk-index
  * round trip are exercised exactly as a reference client would.
  */
class HttpApiSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()
  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def postForm(url: String, form: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withApi(f: (String, String) => Unit): Unit = {
    val indexRoot =
      java.nio.file.Files.createTempDirectory("http-index").toString
    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    val api = HttpApi.start(spark, indexRoot,
      log = s => logs.synchronized { logs += s })
    try f(s"http://localhost:${api.port}", indexRoot)
    finally api.stop()
    assert(logs.nonEmpty, "logging middleware emitted nothing")
    assert(logs.forall(_.contains("\"latency_ms\":")), logs.mkString("\n"))
  }

  test("GET / returns the welcome envelope") {
    withApi { (base, _) =>
      val r = get(s"$base/")
      assert(r.statusCode() == 200)
      assert(r.body().contains("Welcome to Database Query engine"))
      assert(r.headers().firstValue("Content-Type").get == "application/json")
    }
  }

  test("GET /query/ executes gated SQL and returns JSON rows") {
    withApi { (base, _) =>
      val sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
      val r = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        s"&query=${enc(sql)}")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().startsWith("[{\"r_regionkey\":0"), r.body().take(200))
      assert(r.body().split("\\},\\{").length == 5)
    }
  }

  test("DDL gets 401, bad driver 400, with the error envelope") {
    withApi { (base, _) =>
      val ddl = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        s"&query=${enc("DROP TABLE region")}")
      assert(ddl.statusCode() == 401, ddl.body())
      assert(ddl.body().startsWith("""{"error":"""), ddl.body())
      val bad = get(s"$base/query/?dbDriver=mongodb&dbName=x&query=SELECT%201")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("incorrect db driver"), bad.body())
      // the reference's literal driver names pass the GATE over the wire;
      // with no DB host/port configured the request 400s with an explicit
      // not-configured message — never "incorrect db driver" (that means
      // unknown), and never a silent fallback onto stale parquet views
      val my = get(s"$base/query/?dbDriver=mysql&dbName=x&query=" +
        enc("SELECT 1 AS one"))
      assert(my.statusCode() == 400, my.body())
      assert(my.body().contains("not configured"), my.body())
      assert(!my.body().contains("incorrect db driver"), my.body())
      // literal jdbc URLs are a client-controlled connect-anywhere
      // vector — rejected over HTTP (the gate still accepts the driver
      // name; the HTTP layer is the policy boundary)
      val jd = get(s"$base/query/?dbDriver=jdbc&dbName=" +
        enc("jdbc:derby:memory:x;create=true") +
        "&query=" + enc("SELECT 1 AS one"))
      assert(jd.statusCode() == 400 &&
        jd.body().contains("not accepted over HTTP"), jd.body())
      // dbName cannot inject connection properties into the DSN
      val inj = get(s"$base/query/?dbDriver=mysql&dbName=" +
        enc("bank?allowLoadLocalInfile=true") + "&query=" +
        enc("SELECT 1 AS one"))
      assert(inj.statusCode() == 400 && inj.body().contains("invalid dbName"),
        inj.body())
    }
  }

  test("mysql driver routes through the JDBC path (Derby-backed DSN)") {
    // the reference resolves mysql/postgres to an env-assembled DSN; the
    // spec injects a DSN resolver pointing at embedded Derby and drives
    // the whole route over the wire: parse → referenced tables → JDBC
    // views → gated execution
    val url = "jdbc:derby:memory:graftapi;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE accounts") catch { case _: Exception => () }
      st.execute("CREATE TABLE accounts (id INT NOT NULL, balance DOUBLE)")
      val ps = conn.prepareStatement("INSERT INTO accounts VALUES (?, ?)")
      (1 to 20).foreach { i =>
        ps.setInt(1, i); ps.setDouble(2, i * 10.0); ps.addBatch()
      }
      ps.executeBatch(); ()
    } finally conn.close()
    val indexRoot =
      java.nio.file.Files.createTempDirectory("http-jdbc").toString
    val api = HttpApi.start(spark, indexRoot, log = _ => (),
      jdbcUrlFor = (d, db) => if (d == "mysql" && db == "bank") Some(url)
                              else None)
    try {
      val base = s"http://localhost:${api.port}"
      val sql = "SELECT count(*) AS n, sum(balance) AS total FROM accounts"
      val ok = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=${enc(sql)}")
      assert(ok.statusCode() == 200, ok.body())
      assert(ok.body().contains("\"n\":20"), ok.body())
      assert(ok.body().contains("\"total\":2100.0"), ok.body())
      // a table missing on the remote side fails registration → 400
      val missing = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=" +
        enc("SELECT * FROM no_such_table"))
      assert(missing.statusCode() == 400, missing.body())
      // an unknown dbName for this resolver is not configured → 400
      val nodb = get(s"$base/query/?dbDriver=mysql&dbName=other&query=" +
        enc("SELECT 1 AS one"))
      assert(nodb.statusCode() == 400 && nodb.body().contains("not configured"),
        nodb.body())
      // a 401-rejected statement must not have bound any view (the gate
      // runs BEFORE registration)...
      val ddl = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=" +
        enc("INSERT INTO accounts VALUES (99, 9.9)"))
      assert(ddl.statusCode() == 401, ddl.body())
      // ...and a successful mysql request must not leak its views into
      // later requests with other drivers: the same table name under
      // the parquet driver is simply not found, never Derby's data
      val leak = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        "&query=" + enc("SELECT * FROM accounts"))
      assert(leak.statusCode() == 400, leak.body())
      assert(!leak.body().contains("balance"), leak.body())
      // tables inside subquery expressions ARE registered (collect
      // descends into IN/EXISTS subqueries)
      val sub = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=" +
        enc("SELECT count(*) AS n FROM accounts WHERE id IN " +
          "(SELECT id FROM accounts WHERE balance > 100)"))
      assert(sub.statusCode() == 200, sub.body())
      assert(sub.body().contains("\"n\":10"), sub.body())
      // a CTE name referenced in a different case is NOT treated as a
      // remote table (Spark resolves CTEs case-insensitively)
      val cte = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=" +
        enc("WITH Totals AS (SELECT count(*) AS n FROM accounts) " +
          "SELECT n FROM totals"))
      assert(cte.statusCode() == 200, cte.body())
      // no request left a view behind in the server's own session
      assert(!spark.catalog.tableExists("accounts"))
    } finally api.stop()
  }

  test("each request binds its tables in its own session: the server " +
    "session gains no temp view") {
    val url = "jdbc:derby:memory:graftapiiso;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE ledger") catch { case _: Exception => () }
      st.execute("CREATE TABLE ledger (id INT NOT NULL)")
      st.execute("INSERT INTO ledger VALUES (1), (2), (3)"); ()
    } finally conn.close()
    val server = spark.newSession()
    val indexRoot =
      java.nio.file.Files.createTempDirectory("http-iso").toString
    val api = HttpApi.start(server, indexRoot, log = _ => (),
      jdbcUrlFor = (d, db) => if (d == "mysql" && db == "bank") Some(url)
                              else None)
    try {
      val base = s"http://localhost:${api.port}"
      val pq = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        "&query=" + enc("SELECT count(*) AS n FROM region r JOIN nation n " +
          "ON n.n_regionkey = r.r_regionkey"))
      assert(pq.statusCode() == 200 && pq.body() == """[{"n":25}]""", pq.body())
      val my = get(s"$base/query/?dbDriver=mysql&dbName=bank&query=" +
        enc("SELECT count(*) AS n FROM ledger"))
      assert(my.statusCode() == 200 && my.body() == """[{"n":3}]""", my.body())
      val save = postForm(s"$base/elastic/save/",
        s"dbDriver=parquet&dbName=${enc(sf001)}" +
          s"&query=${enc("SELECT * FROM region")}&indexName=regions")
      assert(save.statusCode() == 200, save.body())
      val views = server.catalog.listTables().collect().filter(_.isTemporary)
      assert(views.isEmpty, views.map(_.name).mkString(","))
    } finally api.stop()
  }

  test("interleaved concurrent requests for two dbNames each see their " +
    "own tables") {
    val dbs = Seq(sf001, sf001.stripSuffix("sf0.001") + "sf0.01")
    val expected = dbs.map(db =>
      db -> s"""[{"n":${spark.read.parquet(s"$db/lineitem.parquet").count()}}]""")
      .toMap
    assert(expected.values.toSet.size == 2, expected)
    withApi { (base, _) =>
      val sql = enc("SELECT count(*) AS n FROM lineitem")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (0 until 24).map { i =>
          val db = dbs(i % 2)
          db -> java.util.concurrent.CompletableFuture.supplyAsync(() =>
            get(s"$base/query/?dbDriver=parquet&dbName=${enc(db)}&query=$sql"),
            pool)
        }
        futures.foreach { case (db, f) =>
          val r = f.join()
          assert(r.statusCode() == 200, r.body())
          assert(r.body() == expected(db), s"$db answered ${r.body()}")
        }
      } finally pool.shutdown()
    }
  }

  test("a 401 envelope that echoes control chars is still valid JSON") {
    withApi { (base, _) =>
      val q = "DROP TABLE region -- \u0001 \u001f end"
      val r = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        s"&query=${enc(q)}")
      assert(r.statusCode() == 401, r.body())
      assert(!r.body().exists(_ < ' '), r.body())
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(r.body())
      assert(parsed.get("error").asText().contains(q), r.body())
    }
  }

  test("malformed form encoding is a 400 with the error envelope") {
    withApi { (base, _) =>
      val save = postForm(s"$base/elastic/save/",
        "dbDriver=parquet&dbName=x&indexName=i&query=%zz")
      assert(save.statusCode() == 400, save.body())
      assert(save.body().startsWith("""{"error":"""), save.body())
    }
  }

  test("POST /elastic/save/ bulk-indexes the query result and reports stats") {
    withApi { (base, indexRoot) =>
      val sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
      val r = postForm(s"$base/elastic/save/",
        s"dbDriver=parquet&dbName=${enc(sf001)}&query=${enc(sql)}" +
          "&indexName=nations")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"docs\":25"), r.body())
      // the NDJSON bulk file is really there, in ES _bulk shape
      val dir = new java.io.File(s"$indexRoot/nations")
      val lines = dir.listFiles().filter(_.getName.startsWith("part-"))
        .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
      assert(lines.count(_.startsWith("""{"index":{"_index":"nations"""")) == 25)
      assert(lines.exists(_.contains("\"n_nationkey\":0")))
    }
  }

  test("missing indexName on /elastic/save/ is a 400 incomplete-params") {
    withApi { (base, _) =>
      val r = postForm(s"$base/elastic/save/",
        s"dbDriver=parquet&dbName=${enc(sf001)}&query=SELECT%201")
      assert(r.statusCode() == 400)
      assert(r.body().contains("indexName"), r.body())
    }
  }

  test("/query/ streams: byte-identical to the buffered form, chunked, " +
    "many partitions") {
    withApi { (base, _) =>
      // DISTRIBUTE BY forces a multi-partition result, so the streamed
      // route walks toLocalIterator across many partitions
      val sql = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber"
      val r = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        s"&query=${enc(sql)}")
      assert(r.statusCode() == 200, r.body().take(300))
      assert(r.headers().firstValue("Transfer-encoding").orElse("") == "chunked",
        r.headers().map().toString)
      // byte-identical to what collect-and-join would have produced
      val expected = spark.sql(sql.replace("lineitem",
          s"parquet.`$sf001/lineitem.parquet`"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(r.body() == expected)
      assert(r.body().split("\\},\\{").length == expected.split("\\},\\{").length)
    }
  }

  test("concurrent requests are served in parallel, all complete") {
    withApi { (base, _) =>
      val sql = "SELECT count(*) AS n FROM lineitem"
      val futures = (1 to 8).map { _ =>
        java.util.concurrent.CompletableFuture.supplyAsync(() =>
          get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
            s"&query=${enc(sql)}"))
      }
      val results = futures.map(_.join())
      assert(results.forall(_.statusCode() == 200))
      assert(results.map(_.body()).distinct.size == 1) // identical answers
    }
  }

  test("server binds loopback only") {
    val api = HttpApi.start(spark,
      java.nio.file.Files.createTempDirectory("http-bind").toString,
      log = _ => ())
    try assert(api.server.getAddress.getAddress.isLoopbackAddress)
    finally api.stop()
  }

  test("traversal-shaped indexName is rejected and writes nothing") {
    withApi { (base, indexRoot) =>
      val victim = java.nio.file.Files.createTempDirectory("victim")
      java.nio.file.Files.writeString(victim.resolve("keep.txt"), "precious")
      val evil = s"../../${victim.toString.stripPrefix("/")}"
      val r = postForm(s"$base/elastic/save/",
        s"dbDriver=parquet&dbName=${enc(sf001)}" +
          s"&query=${enc("SELECT 1 AS one")}&indexName=${enc(evil)}")
      assert(r.statusCode() == 400, r.body())
      assert(r.body().contains("invalid indexName"), r.body())
      assert(java.nio.file.Files.exists(victim.resolve("keep.txt")),
        "traversal escaped indexRoot and clobbered the target")
      // dots, slashes, spaces all rejected; plain names still pass
      Seq("a.b", "a/b", "a b", "").foreach { bad =>
        val rb = postForm(s"$base/elastic/save/",
          s"dbDriver=parquet&dbName=${enc(sf001)}" +
            s"&query=${enc("SELECT 1 AS one")}&indexName=${enc(bad)}")
        assert(rb.statusCode() == 400, s"'$bad' -> ${rb.body()}")
      }
    }
  }

  test("dataRoot confines dbName to the configured subtree") {
    val indexRoot = java.nio.file.Files.createTempDirectory("http-idx").toString
    val api = HttpApi.start(spark, indexRoot, log = _ => (),
      dataRoot = Some("/root/testdata"))
    try {
      val base = s"http://localhost:${api.port}"
      val ok = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
        s"&query=${enc("SELECT count(*) AS n FROM region")}")
      assert(ok.statusCode() == 200, ok.body())
      val outside = get(s"$base/query/?dbDriver=parquet&dbName=${enc("/etc")}" +
        s"&query=${enc("SELECT 1 AS one")}")
      assert(outside.statusCode() == 400, outside.body())
      assert(outside.body().contains("outside data root"), outside.body())
      val sneaky = get(s"$base/query/?dbDriver=parquet" +
        s"&dbName=${enc("/root/testdata/../../etc")}" +
        s"&query=${enc("SELECT 1 AS one")}")
      assert(sneaky.statusCode() == 400, sneaky.body())
    } finally api.stop()
  }

  test("a query cannot read files through run-SQL-on-files, with or " +
    "without dataRoot") {
    val secret = java.nio.file.Files.createTempFile("http-secret", ".txt")
    java.nio.file.Files.writeString(secret, "graft-secret-line-7f3a")
    val indexRoot = java.nio.file.Files.createTempDirectory("http-idx").toString
    val apis = Seq(HttpApi.start(spark, indexRoot, log = _ => ()),
      HttpApi.start(spark, indexRoot, log = _ => (),
        dataRoot = Some("/root/testdata")))
    try apis.foreach { api =>
      val sql = s"SELECT * FROM text.`$secret`"
      val r = get(s"http://localhost:${api.port}/query/?dbDriver=parquet" +
        s"&dbName=${enc(sf001)}&query=${enc(sql)}")
      assert(r.statusCode() / 100 == 4, r.body())
      assert(r.body().startsWith("""{"error":"""), r.body())
      assert(!r.body().contains("graft-secret-line-7f3a"), r.body())
    } finally {
      apis.foreach(_.stop())
      java.nio.file.Files.delete(secret)
    }
  }

  test("ADD JAR, ADD FILE and ADD ARCHIVE get 401 and add nothing: with " +
    "artifact isolation off, an added artifact would reach every session") {
    assert(spark.conf.get(graft.engine.Tuning.ArtifactIsolationKey) == "false")
    val artifact = java.nio.file.Files.createTempFile("http-artifact", ".jar")
    val sc = spark.sparkContext
    def added = (sc.listJars() ++ sc.listFiles() ++ sc.listArchives())
      .filter(_.contains(artifact.getFileName.toString))
    try withApi { (base, _) =>
      Seq("JAR", "FILE", "ARCHIVE").foreach { kind =>
        val sql = s"ADD $kind $artifact"
        val r = get(s"$base/query/?dbDriver=parquet&dbName=${enc(sf001)}" +
          s"&query=${enc(sql)}")
        assert(r.statusCode() == 401, s"$sql: ${r.body()}")
        assert(r.body().startsWith("""{"error":"unauthorized"""), r.body())
      }
      assert(added.isEmpty, added)
    } finally java.nio.file.Files.delete(artifact)
  }
}
