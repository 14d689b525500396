package graftbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Tables
import graft.operators.Search
import graft.queries.LlmSurface

/** engine_suite: one driver thread runs a fixed list of
  * `SparkEntry.queries` entries, each fully materialized through the
  * `noop` sink (never `.count()`). Set-up is a fresh session plus one
  * check pass that writes every entry's output to parquet for the
  * oracle compare (warming the JVM and building the staged artifacts
  * the entries read on first use); then the timed window, a fixed
  * schedule of rounds: every entry once, then the entries marked for
  * two samples once more.
  *
  * With trace=1 the set-up first builds each staged artifact alone, a
  * Spark listener is attached, and one extra traced pass follows: per
  * entry a span for the entry function (`queries.build`) and for the
  * noop write (`queries.materialize`), Catalyst phase times, and the
  * entry timed again under `.count()` for the count-vs-materialize
  * record. */
object Suite {
  final case class Entry(name: String, family: String, kind: String, samples: Int)

  /** Staged artifacts the entry list reads, one thunk each. Untraced
    * runs let the entries build them on first use, in the check pass;
    * a traced run builds each alone first so its cost is on record. */
  def artifacts(s: SparkSession, d: String): Seq[(String, () => Any)] = {
    def docs = Tables.table(s, d, "documents")
    Seq(
      "bm25_index" -> (() => Search.ensureBm25Index(s, d, docs, numBuckets = 8)),
      "seg_index" -> (() => LlmSurface.segIndexDir(s, d)),
      "rollover_template" -> (() => LlmSurface.rolloverStage(s, d)),
      "geo_tiles" -> (() => LlmSurface.geoDir(s, d)))
  }

  def run(args: Map[String, String], work: File, seconds: Double, trace: Boolean,
          reps: Int, spans: Spans, out: Out): Unit = {
    val entries = Harness.readTsv(args("entries"))
      .map(a => Entry(a(0), a(1), a(2), a(3).toInt))
    val roundS = args("round_s").toDouble
    val missing = entries.map(_.name).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")
    out.put("oracles", entries.map(e => e.name -> SparkEntry.oracleSql.get(e.name)).toMap)
    val srcData = new File(args("data"))
    var env: Harness.Env = null
    var stageArtifacts = Seq.empty[(String, Double)]

    // ---- set-up: session, then one check pass that writes every
    // entry's output to parquet for the oracle compare; it also warms
    // the JVM and builds staged artifacts on first use ----
    val checkDir = new File(args("checks"))
    var checkRows = Seq.empty[String]
    val setups = (1 to reps).map { k =>
      if (env != null) { env.stop(); Harness.deleteTree(env.dir) }
      val t0 = System.nanoTime()
      val (dir, data, index) = Harness.isolate(work, k, srcData)
      val spark = Harness.session(dir)
      env = new Harness.Env(dir, spark, data, index, None)
      val tSession = Harness.secs(t0)
      val t1 = System.nanoTime()
      if (trace) stageArtifacts = artifacts(spark, data).map { case (name, f) =>
        val a0 = System.nanoTime(); f(); name -> Harness.secs(a0)
      }
      val tStage = Harness.secs(t1)
      val c0 = System.nanoTime()
      checkRows = entries.map { en =>
        val e0 = System.nanoTime()
        val err = try {
          SparkEntry.queries(en.name)(spark, data).write.mode("overwrite")
            .parquet(new File(checkDir, s"$k/${en.name}").getPath)
          None
        } catch { case NonFatal(x) => Some(x.toString.take(300)) }
        spark.catalog.clearCache()
        val ms = (System.nanoTime() - e0) / 1e6
        Harness.note(f"set-up $k check ${en.name}: $ms%.0f ms${err.fold("")(" FAILED " + _)}")
        Json.obj(Seq("name" -> en.name, "dir" -> s"$k/${en.name}", "first_ms" -> ms,
          "error" -> err))
      }
      Harness.note(f"set-up $k: session $tSession%.1f s, staging $tStage%.1f s, " +
        f"check pass ${Harness.secs(c0)}%.1f s")
      Map("total_s" -> Harness.secs(t0), "session_s" -> tSession,
        "stage_s" -> tStage, "check_pass_s" -> Harness.secs(c0))
    }
    out.put("setups", setups)
    out.put("stage_artifacts", stageArtifacts.toMap)
    out.put("header_conf", Header.snapshot(Some(env.spark)))
    out.putRows("checks", checkRows)
    val spark = env.spark
    val data = env.data

    val tap = new SparkTap(spark.sparkContext)
    val rows = scala.collection.mutable.ArrayBuffer[String]()

    /** Run one entry; record its row and return its wall ms. */
    def runEntry(en: Entry, pass: Int, traced: Boolean): Double = {
      val id = spans.newId()
      val t0 = spans.nowMs()
      var err: Option[String] = None
      var attrs = Map.empty[String, Any]
      try {
        val c0 = Header.threadCpu()
        val pc0 = Header.processCpuMs()
        val bId = spans.newId(); val b0 = spans.nowMs()
        tap.tag(bId)
        val df = try SparkEntry.queries(en.name)(spark, data) finally tap.untag()
        val b1 = spans.nowMs()
        val mId = spans.newId()
        tap.tag(mId)
        try df.write.format("noop").mode("overwrite").save() finally tap.untag()
        val m1 = spans.nowMs()
        attrs = Map("build_ms" -> (b1 - b0), "materialize_ms" -> (m1 - b1),
          "cpu_ms" -> Header.cpuMsSince(c0),
          "process_cpu_ms" -> (Header.processCpuMs() - pc0),
          "build_span" -> bId, "materialize_span" -> mId)
        if (traced) {
          spans.record(bId, id, "queries.build", b0, b1)
          spans.record(mId, id, "queries.materialize", b1, m1)
          df.queryExecution.executedPlan // phases only; outside the timed window
          attrs ++= df.queryExecution.tracker.phases.map { case (k, p) =>
            s"phase_${k}_ms" -> p.durationMs.toDouble
          }
          spark.catalog.clearCache()
          val k0 = spans.nowMs()
          SparkEntry.queries(en.name)(spark, data).count()
          attrs += ("count_ms" -> (spans.nowMs() - k0))
        }
      } catch { case NonFatal(x) => err = Some(x.toString.take(300)) }
      val t1 = spans.nowMs()
      spark.catalog.clearCache()
      if (traced) spans.record(id, 0L, "entry", t0, t1,
        Map("entry" -> en.name, "family" -> en.family))
      val wallMs = Seq("build_ms", "materialize_ms")
        .map(k => attrs.getOrElse(k, 0.0).asInstanceOf[Double]).sum
      Harness.note(f"pass $pass ${en.name}: $wallMs%.0f ms${err.fold("")(" FAILED " + _)}")
      rows += Json.obj(Seq("name" -> en.name, "family" -> en.family, "kind" -> en.kind,
        "pass" -> pass, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "wall_ms" -> wallMs,
        "error" -> err) ++ attrs.toSeq)
      wallMs
    }

    // the timed work is a fixed schedule, so every run takes the same
    // samples at the same point of the JVM's warm-up (a window that ran
    // until a deadline gave fast runs more, and warmer, samples): per
    // round, every entry once in list order, then the entries marked for
    // more samples once more each; one round per round_s of --seconds
    val depth = entries.map(_.samples).max
    val schedule = (0 until math.max(1, (seconds / roundS).toInt)).flatMap { r =>
      (0 until depth).flatMap(k => entries.filter(_.samples > k).map(r * depth + k -> _))
    }
    val start = spans.nowMs()
    schedule.foreach { case (p, en) => runEntry(en, p, traced = false) }
    val pass = schedule.map(_._1).max
    val windows = Seq(Map("phase" -> "untraced", "start_ms" -> start,
      "end_ms" -> spans.nowMs(), "passes" -> (pass + 1)))
    val tracedWindow = if (!trace) Nil else {
      spark.sparkContext.addSparkListener(tap)
      val s0 = spans.nowMs()
      entries.foreach(runEntry(_, pass + 1, traced = true))
      Seq(Map("phase" -> "traced", "start_ms" -> s0, "end_ms" -> spans.nowMs(),
        "passes" -> 1))
    }
    tap.drain()
    out.put("windows", windows ++ tracedWindow)
    out.putRows("entries", rows.toSeq)
    out.putRows("jobs", tap.jobsJson)
    out.putRows("spark", tap.accsJson)
    env.stop()
  }
}
