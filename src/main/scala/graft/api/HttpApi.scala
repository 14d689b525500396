package graft.api

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.Tables
import graft.gate.{EngineError, QueryGate}
import graft.operators.Indexer
import graft.sources.Sources

/** The live HTTP twin of the reference service — its three routes
  * (`api/controllers/routes.go:9-15`), each wrapped in the logging
  * middleware (O15, `api/middlewares/middlewares.go:40-59`), with the
  * reference's response envelope (`api/responses/json.go`: raw JSON on
  * success, `{"error": "..."}` on failure) and its error taxonomy
  * (400/401, `api/utils/error_handler.go`):
  *
  *   - `GET  /`              → welcome string (home_controller.go:9-11)
  *   - `GET  /query/`        → gated SQL → JSON array of row objects
  *                             (query_controller.go:54-109)
  *   - `POST /elastic/save/` → gated SQL → bulk-indexed to the
  *                             file-backed NDJSON index + stats record
  *                             (elastic_controller.go:252-299)
  *
  * Built on the JDK's `HttpServer` — in-process, zero dependencies —
  * so the one reference behavior that previously had no executable twin
  * (the live wire surface) is now spec-tested end to end. The handler
  * does what the reference's two-service hop does (O8: /elastic/save/
  * HTTP-GETs its own /query/ route and re-parses the JSON) WITHOUT the
  * self-call: the DataFrame flows from gate to sink in-process.
  *
  * Serving is request-scoped and driver-side by design — this is the
  * reference's control-plane API, not a data-plane operator; the heavy
  * lifting behind each request (scan/join/index) still executes as
  * distributed Spark jobs.
  *
  * Hardening (this is a stand-in that maps names to LOCAL paths, a risk
  * the reference — which talks to external MySQL/ES — never had):
  *   - binds the LOOPBACK interface only; fronting a real deployment
  *     with a proxy is the operator's explicit choice, not a default;
  *   - `indexName` must match `[A-Za-z0-9_-]+` — a traversal-shaped
  *     name (`../../…`) would otherwise escape `indexRoot` and, with
  *     overwrite mode, destroy the target directory;
  *   - optional `dataRoot` confines `dbName` (the parquet table
  *     directory a query reads) to a configured subtree, the twin of
  *     the reference constraining dbName to configured connections;
  *   - `/query/` STREAMS its JSON array via `toLocalIterator` — one
  *     partition in driver memory at a time, byte-identical to the
  *     buffered form. (The reference buffers the full result set,
  *     elastic_controller.go:118 — its scale ceiling, not parity worth
  *     keeping.) Plan/analysis errors still surface as error envelopes
  *     before any byte is written. A mid-stream EXECUTION error
  *     truncates the JSON payload while the chunked encoding itself
  *     still terminates cleanly — clients must parse the body as JSON
  *     (a truncated array fails to parse) and the logged `stream_error`
  *     line is the server-side record; this is the price of not
  *     materializing the result.
  */
object HttpApi {

  final case class Running(server: HttpServer,
                           pool: java.util.concurrent.ExecutorService) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = { server.stop(0); pool.shutdown() }
  }

  /** A handler result: fully-buffered envelope, or a streamed body
    * (the writer returns the byte count for the log line).
    */
  private sealed trait Resp
  private final case class Full(code: Int, body: String) extends Resp
  private final case class Chunked(code: Int,
      write: java.io.OutputStream => Long) extends Resp

  private val IndexNamePattern = "[A-Za-z0-9_-]+".r

  /** Start the API on `port` (0 = ephemeral), bound to loopback.
    * `indexRoot` is the directory backing the NDJSON bulk index (the ES
    * stand-in). `dataRoot`, when set, rejects any `dbName` that does
    * not resolve under it. `jdbcUrlFor` resolves a (driver, dbName)
    * pair to a JDBC URL for the mysql/postgres drivers — the default is
    * the reference's env-assembled DSN ([[graft.engine.EngineConfig]]);
    * injectable so specs exercise the wiring against embedded Derby.
    */
  def start(spark: SparkSession, indexRoot: String, port: Int = 0,
            log: String => Unit = Console.err.println,
            dataRoot: Option[String] = None,
            jdbcUrlFor: (String, String) => Option[String] =
              (d, db) => graft.engine.EngineConfig().jdbcUrl(d, db)): Running = {
    val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, port), 0)
    server.createContext("/elastic/save/",
      logged(log, "POST /elastic/save/")(
        elasticSave(spark, indexRoot, dataRoot, jdbcUrlFor)))
    server.createContext("/query/",
      logged(log, "GET /query/")(queryRoute(spark, dataRoot, jdbcUrlFor)))
    server.createContext("/", logged(log, "GET /") { ex =>
      if (ex.getRequestURI.getPath == "/")
        Full(200,
          "\"Welcome to Database Query engine and Elastic Search bulk posting engine\"")
      else Full(404, """{"error":"no such route"}""")
    })
    // Concurrent request handling (the reference's mux router serves
    // concurrently; the JDK server's default executor is the dispatch
    // thread — serial). Spark schedules concurrent driver-side jobs
    // fairly; each request's heavy work still runs as distributed jobs.
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    Running(server, pool)
  }

  // --- routes ---------------------------------------------------------

  private def queryRoute(spark: SparkSession, dataRoot: Option[String],
                         jdbcUrlFor: (String, String) => Option[String])(
      ex: HttpExchange): Resp = answer {
    val p = params(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    // Materialize the analyzed plan (and so any analysis error) BEFORE
    // committing to a 200 streamed response.
    val json = run(spark, p, dataRoot, jdbcUrlFor).toJSON
    Chunked(200, os => {
      var n = 0L
      def w(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8); os.write(b); n += b.length
      }
      w("[")
      val it = json.toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) w(",")
        w(it.next()); first = false
      }
      w("]")
      n
    })
  }

  private def elasticSave(spark: SparkSession, indexRoot: String,
                          dataRoot: Option[String],
                          jdbcUrlFor: (String, String) => Option[String])(
      ex: HttpExchange): Resp = {
    val body = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    answer {
      val p = params(body)
      val indexName = p.getOrElse("indexName", "")
      if (indexName.trim.isEmpty)
        throw EngineError.IncompleteParams("indexName")
      if (!IndexNamePattern.matches(indexName))
        throw new IllegalArgumentException(
          s"invalid indexName (must match [A-Za-z0-9_-]+): $indexName")
      val df = run(spark, p, dataRoot, jdbcUrlFor)
      val stats = Indexer.bulkIndex(df, indexRoot, indexName,
        orderBy = df.columns.toSeq.map(col), mode = "overwrite")
      Full(200, stats.jsonLine)
    }
  }

  /** The reference's error mapping: an [[EngineError]] answers with its
    * own code, any other failure (form decoding, analysis, execution) 400.
    */
  private def answer(body: => Resp): Resp =
    try body
    catch {
      case e: EngineError => Full(e.code, errorJson(e.getMessage))
      case NonFatal(e) =>
        Full(400, errorJson(String.valueOf(e.getMessage).take(500)))
    }

  /** Gate, then plan the query in a session of its own, as the reference
    * opens its own connection to `dbName` per request
    * (`api/controllers/base.go:38-66`). The child session
    * (`spark.newSession()`) shares the SparkContext, cache manager and
    * external catalog but has its own temp views, and starts from the
    * server session's modifiable runtime SQL settings. Only the tables
    * the query names ([[referencedTables]]) are bound in it, so
    * concurrent requests for different `dbName`s never see each other's
    * tables and the server session is never mutated: no lock, no cleanup.
    *
    * `parquet` binds fixture tables ([[Tables.names]], case-insensitive)
    * from `dbName`, confined to `dataRoot` when set. `mysql`/`postgres`
    * bind JDBC frames on the URL `jdbcUrlFor` resolves (the reference's
    * env-assembled DSN) after a dbName shape check, so dbName cannot
    * inject connection properties; an unconfigured driver is a 400.
    * Literal `jdbc:` URLs are rejected over HTTP (a client-supplied URL
    * can point the server's JDBC drivers at any endpoint or local file);
    * library callers use [[graft.sources.Sources.table]] for that. The
    * gate runs first, so a rejected request does no remote I/O.
    */
  private def run(spark: SparkSession, p: Map[String, String],
                  dataRoot: Option[String],
                  jdbcUrlFor: (String, String) => Option[String]): DataFrame = {
    val (driver, db, query) = (p.getOrElse("dbDriver", ""),
      p.getOrElse("dbName", ""), p.getOrElse("query", ""))
    QueryGate.validate(spark, driver, db, query)
    val open: (SparkSession, String) => Option[DataFrame] =
      if (driver == "parquet") {
        dataRoot.foreach { root =>
          val rootPath = new java.io.File(root).getCanonicalPath
          val dbPath = new java.io.File(db).getCanonicalPath
          if (dbPath != rootPath &&
              !dbPath.startsWith(rootPath + java.io.File.separator))
            throw EngineError.IncorrectSource(s"dbName outside data root: $db")
        }
        (s, t) => Tables.names.find(_.equalsIgnoreCase(t))
          .map(Tables.table(s, db, _))
      } else {
        if (driver == "jdbc")
          throw new IllegalArgumentException(
            "literal jdbc URLs are not accepted over HTTP; use the " +
              "mysql/postgres drivers with a configured DSN")
        if (!DbNamePattern.matches(db))
          throw new IllegalArgumentException(
            s"invalid dbName (must match [A-Za-z0-9_.-]+): $db")
        val url = jdbcUrlFor(driver, db).getOrElse(
          throw new IllegalArgumentException(
            s"$driver is not configured (no DB host/port in environment)"))
        (s, t) => Some(Sources.jdbcTable(s, url, t))
      }
    val session = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) session.conf.set(k, v)
    }
    // No ``SELECT ... FROM text.`/any/path` ``: a client names tables,
    // never files, or dbName confinement would not confine anything.
    session.conf.set("spark.sql.runSQLOnFiles", "false")
    referencedTables(session, query).foreach(t =>
      open(session, t).foreach(_.createOrReplaceTempView(t)))
    session.sql(query)
  }

  private val DbNamePattern = "[A-Za-z0-9_.-]+".r

  /** Base tables the query references, from the PARSED plan's
    * unresolved relations (comments/strings cannot smuggle one in),
    * INCLUDING those inside IN/EXISTS/scalar subqueries. CTE names are
    * excluded case-insensitively (Spark resolves them that way).
    */
  private def referencedTables(spark: SparkSession,
                               query: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val root = spark.sessionState.sqlParser.parsePlan(query)
    // Worklist over the main plan plus every CTE DEFINITION plan —
    // cteRelations are not children of UnresolvedWith, so a plain
    // collect would miss tables referenced only inside a CTE body;
    // collectWithSubqueries additionally descends into IN/EXISTS/scalar
    // subquery expressions.
    val plans = scala.collection.mutable.ArrayBuffer[LogicalPlan](root)
    val cteNames = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < plans.length) {
      plans(i).collectWithSubqueries { case w: UnresolvedWith =>
        w.cteRelations.foreach { rel =>
          cteNames += rel._1.toLowerCase
          plans += rel._2
        }
      }
      i += 1
    }
    plans.toSeq.flatMap(_.collectWithSubqueries {
      case r: UnresolvedRelation => r.multipartIdentifier.last
    }).distinctBy(_.toLowerCase)
      .filterNot(t => cteNames.contains(t.toLowerCase))
  }

  // --- middleware + plumbing ------------------------------------------

  /** O15 twin: time the handler, answer with the JSON content type the
    * reference's writer shim forces, emit one structured log line.
    * Buffered responses go out with an exact Content-Length; streamed
    * ones use chunked transfer encoding (length 0 to the JDK server).
    */
  private def logged(log: String => Unit, route: String)(
      f: HttpExchange => Resp): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      val resp = try f(ex)
        catch { case NonFatal(e) => Full(500, errorJson(String.valueOf(e))) }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      var err: Option[String] = None
      val nBytes: Long = resp match {
        case Full(code, bodyStr) =>
          val bytes = bodyStr.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(code, bytes.length)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
          bytes.length.toLong
        case Chunked(code, writeBody) =>
          ex.sendResponseHeaders(code, 0)
          val os = ex.getResponseBody
          try writeBody(os)
          catch { // headers are gone; all we can do is log the truncation
            case NonFatal(e) => err = Some(String.valueOf(e)); -1L
          } finally os.close()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val code = resp match { case Full(c, _) => c; case Chunked(c, _) => c }
      val errField = err.fold("")(e =>
        s""","stream_error":"${QueryGate.jsonEscape(e.take(200))}"""")
      log(s"""{"route":"$route","status":$code,"bytes":$nBytes,"latency_ms":$ms$errField}""")
    }

  private def errorJson(msg: String): String =
    s"""{"error":"${QueryGate.jsonEscape(msg)}"}"""

  /** Decode an application/x-www-form-urlencoded or query string. */
  private def params(s: String): Map[String, String] =
    s.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap
}
