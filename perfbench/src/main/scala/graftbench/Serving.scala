package graftbench

import java.io.{ByteArrayOutputStream, File}
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.col

import graft.api.HttpApi
import graft.engine.Tables
import graft.gate.{EngineError, QueryGate}
import graft.operators.Indexer

/** query_api: closed-loop clients against an in-process `HttpApi.start`.
  * Each client walks its own schedule of pool ids (a `save` id is a
  * POST /elastic/save/).
  *
  * With trace=1 each client sends the first half of its requests
  * untraced and the second half traced: after each HTTP reply the
  * client replays the same request through the handler's public calls
  * on its own thread
  * (`QueryGate.validate` → `Tables.register` + `spark.sql` under the
  * `HttpApi` lock → JSON stream, or `Indexer.bulkIndex` for a save),
  * recording one span per call and tagging the Spark jobs it runs. */
object Serving {
  final case class Req(id: Int, kind: String, sql: String)

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  def run(args: Map[String, String], work: File, seconds: Double,
          trace: Boolean, reps: Int, spans: Spans, out: Out): Unit = {
    val pool = Harness.readTsv(args("mix")).map(a => Req(a(0).toInt, a(1), a(2)))
      .map(r => r.id -> r).toMap
    val schedules = Harness.readTsv(args("schedule")).map(_.map(_.toInt))
    val nQuery = args("clients").toInt
    val clientRate = args("client_rate").toDouble
    val srcData = new File(args("data"))
    val serverLog = new ConcurrentLinkedQueue[String]()
    var env: Harness.Env = null

    // ---- set-up, repeated in fresh directories: session start, server
    // start and the first reply (a lookup); then one request per kind
    // warms every path once before the window ----
    val http0 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val first = pool.values.filter(_.kind == "lookup").minBy(_.id)
    val setups = (1 to reps).map { k =>
      if (env != null) { env.stop(); Harness.deleteTree(env.dir) }
      val t0 = System.nanoTime()
      val (dir, data, index) = Harness.isolate(work, k, srcData)
      val spark = Harness.session(dir)
      val tSession = Harness.secs(t0)
      val server = HttpApi.start(spark, index, 0,
        log = line => serverLog.add(f"${spans.nowMs()}%.3f\t$line"),
        dataRoot = Some(data))
      env = new Harness.Env(dir, spark, data, index, Some(server))
      val (status, _) = get(http0, server.port, data, first.sql)
      require(status == 200, s"set-up lookup answered $status")
      Harness.note(f"set-up $k: session $tSession%.1f s, total ${Harness.secs(t0)}%.1f s")
      Map("total_s" -> Harness.secs(t0), "session_s" -> tSession)
    }
    val w0 = System.nanoTime()
    pool.values.toSeq.groupBy(_.kind).values
      .map(_.minBy(_.id)).toSeq.sortBy(_.id).foreach { r =>
        if (r.kind == "save") {
          post(http0, env.server.get.port, env.data, r.sql, "bench_warm")
          Harness.deleteTree(new File(env.index, "bench_warm"))
        } else get(http0, env.server.get.port, env.data, r.sql)
      }
    out.put("warm_s", Harness.secs(w0))
    out.put("setups", setups)
    out.put("header_conf", Header.snapshot(Some(env.spark)))
    serverLog.clear()

    val tap = new SparkTap(env.spark.sparkContext)
    val bodies = new ConcurrentHashMap[Int, Array[Byte]]()
    val reqRows = new ConcurrentLinkedQueue[String]()
    val saveRows = new ConcurrentLinkedQueue[String]()
    val errors = new ConcurrentLinkedQueue[String]()
    val port = env.server.get.port
    val e = env

    /** POST one save, count the index's NDJSON lines, drop the index. */
    def save(r: Req, name: String, http: HttpClient, phase: String,
             traced: Boolean): Unit = {
      val t0 = spans.nowMs()
      val (status, body) = post(http, port, e.data, r.sql, name)
      val t1 = spans.nowMs()
      val dir = new File(e.index, name)
      val lines = countLines(dir)
      Harness.deleteTree(dir)
      saveRows.add(Json.value(Seq(r.id, t0, t1 - t0, status,
        new String(body, UTF_8), lines, phase)))
      if (traced) {
        val root = spans.newId()
        val r0 = spans.nowMs()
        replaySave(e, r, root, spans, tap)
        spans.record(root, 0L, "save", r0, spans.nowMs(), Map("pool_id" -> r.id))
      }
    }

    val phases: Seq[(String, Double)] =
      if (trace) Seq("untraced" -> seconds / 2, "traced" -> seconds / 2)
      else Seq("untraced" -> seconds)
    val windows = phases.map { case (phase, len) =>
      val traced = phase == "traced"
      if (traced) env.spark.sparkContext.addSparkListener(tap)
      val start = spans.nowMs()
      val cpu0 = Header.threadCpu()
      val pcpu0 = Header.processCpuMs()
      // a fixed number of requests per client, so every run shares its
      // CPU time out over the same mix of cheap and heavy requests (a
      // deadline cut each client's pattern at a different slot)
      val perClient = math.max(1, math.round(len * clientRate).toInt)
      val latch = new CountDownLatch(1)
      val queryThreads = (0 until nQuery).map { c =>
        val sched = schedules(c % schedules.size)
        new Thread(() => {
          latch.await()
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          // the traced half starts each client just before a save, so
          // the short window still replays the save route
          var i = if (!traced) 0 else {
            val half = sched.length / 2
            val firstSave = (half until sched.length).find(j => pool(sched(j)).kind == "save")
            firstSave.fold(half)(_ - 2 * c)
          }
          for (_ <- 0 until perClient) {
            val r = pool(sched(i % sched.length)); i += 1
            try {
              if (r.kind == "save") save(r, s"bench_c$c", http, phase, traced)
              else {
                val root = spans.newId()
                val t0 = spans.nowMs()
                val (status, body) = get(http, port, e.data, r.sql)
                val t1 = spans.nowMs()
                bodies.putIfAbsent(r.id, body)
                reqRows.add(Json.value(Seq(c, r.id, t0, t1 - t0, status, body.length,
                  md5(body), phase)))
                if (traced) {
                  spans.record(spans.newId(), root, "api.http", t0, t1,
                    Map("status" -> status, "bytes" -> body.length))
                  replayQuery(e, r, root, spans, tap)
                  spans.record(root, 0L, "request", t0, spans.nowMs(),
                    Map("kind" -> r.kind, "pool_id" -> r.id))
                }
              }
            } catch { case NonFatal(x) => errors.add(s"query ${r.id}: $x") }
          }
        }, s"bench-client-$c")
      }
      queryThreads.foreach(_.start())
      latch.countDown()
      queryThreads.foreach(_.join())
      Map("phase" -> phase, "start_ms" -> start, "end_ms" -> spans.nowMs(),
        "cpu_ms" -> Header.cpuMsSince(cpu0),
        "process_cpu_ms" -> (Header.processCpuMs() - pcpu0))
    }
    tap.drain()
    out.put("windows", windows)
    out.putRows("requests", reqRows.asScala.toSeq)
    out.putRows("saves", saveRows.asScala.toSeq)
    out.put("errors", errors.asScala.toSeq)
    out.put("server_log", serverLog.asScala.toSeq)
    out.putRows("jobs", tap.jobsJson)
    out.putRows("spark", tap.accsJson)
    val bodyDir = new File(args("bodies")); bodyDir.mkdirs()
    bodies.asScala.foreach { case (id, b) =>
      Files.write(new File(bodyDir, s"$id.json").toPath, b)
    }
    env.stop()
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  def get(http: HttpClient, port: Int, data: String, sql: String): (Int, Array[Byte]) = {
    val uri = URI.create(s"http://127.0.0.1:$port/query/?dbDriver=parquet" +
      s"&dbName=${enc(data)}&query=${enc(sql)}")
    send(http, HttpRequest.newBuilder(uri).GET().build())
  }

  def post(http: HttpClient, port: Int, data: String, sql: String,
           index: String): (Int, Array[Byte]) = {
    val form = s"dbDriver=parquet&dbName=${enc(data)}&query=${enc(sql)}" +
      s"&indexName=${enc(index)}"
    send(http, HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/elastic/save/"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build())
  }

  /** Send and read the body to its last byte. */
  private def send(http: HttpClient, req: HttpRequest): (Int, Array[Byte]) = {
    val resp = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val in = resp.body()
    val buf = new ByteArrayOutputStream()
    try in.transferTo(buf) finally in.close()
    (resp.statusCode(), buf.toByteArray)
  }

  /** Newline count over the index's part files (2 per document). */
  def countLines(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
      .map { f =>
        val b = Files.readAllBytes(f.toPath)
        var n = 0L; var i = 0
        while (i < b.length) { if (b(i) == '\n') n += 1; i += 1 }
        n
      }.sum

  def dirBytes(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).map(_.length()).sum

  /** gate → register + analyze under the API lock. None when the gate
    * rejects (the span records the rejection). */
  private def admit(e: Harness.Env, sql: String, parent: Long, spans: Spans,
                    tap: SparkTap): Option[org.apache.spark.sql.DataFrame] = {
    val ok = spans.span(parent, "gate.validate") { id =>
      try { QueryGate.validate(e.spark, "parquet", e.data, sql); true }
      catch {
        case err: EngineError =>
          spans.record(spans.newId(), id, "gate.rejected", spans.nowMs(), spans.nowMs(),
            Map("code" -> err.code))
          false
      }
    }
    if (!ok) None else {
      val w0 = spans.nowMs()
      Some(HttpApi.synchronized {
        spans.record(spans.newId(), parent, "engine.lock_wait", w0, spans.nowMs())
        spans.span(parent, "engine.register") { id =>
          tap.tag(id)
          try Tables.register(e.spark, e.data) finally tap.untag()
        }
        spans.span(parent, "spark.analyze") { id =>
          tap.tag(id)
          try e.spark.sql(sql) finally tap.untag()
        }
      })
    }
  }

  private def phaseAttrs(qe: org.apache.spark.sql.execution.QueryExecution,
                         keys: Seq[String]): Map[String, Any] =
    qe.tracker.phases.collect { case (k, p) if keys.contains(k) =>
      s"phase_${k}_ms" -> p.durationMs.toDouble
    }

  def replayQuery(e: Harness.Env, r: Req, root: Long, spans: Spans,
                  tap: SparkTap): Unit =
    spans.span(root, "api.handler") { h =>
      admit(e, r.sql, h, spans, tap).foreach { df =>
        var bytes = 0L
        val json = df.toJSON
        spans.span(h, "spark.execute") { id =>
          tap.tag(id)
          try {
            val it = json.toLocalIterator()
            while (it.hasNext) bytes += it.next().length + 1
          } finally tap.untag()
        }
        spans.record(spans.newId(), h, "spark.phases", spans.nowMs(), spans.nowMs(),
          phaseAttrs(df.queryExecution, Seq("parsing", "analysis")) ++
            phaseAttrs(json.queryExecution, Seq("optimization", "planning")) ++
            Map("bytes" -> bytes))
      }
    }

  def replaySave(e: Harness.Env, r: Req, root: Long, spans: Spans,
                 tap: SparkTap): Unit =
    spans.span(root, "api.handler") { h =>
      admit(e, r.sql, h, spans, tap).foreach { df =>
        val name = s"trace_${r.id}"
        spans.span(h, "indexer.bulkIndex") { id =>
          tap.tag(id)
          val stats = try Indexer.bulkIndex(df, e.index, name,
            orderBy = df.columns.toSeq.map(col), mode = "overwrite")
          finally tap.untag()
          val dir = new File(e.index, name)
          spans.record(spans.newId(), id, "indexer.stats", spans.nowMs(), spans.nowMs(),
            Map("docs" -> stats.numFlushed, "bytes_written" -> dirBytes(dir)))
          Harness.deleteTree(dir)
        }
      }
    }
}
