package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi

/** JVM side of the benchmark. `run.py` generates the inputs from the
  * seed, starts this main once per run, and turns the raw samples it
  * writes (`out=<file>`) into metrics and output checks.
  *
  *   mode=query_api|engine_suite  data=<parquet dir>
  *   work=<scratch dir>  out=<raw json>  seconds=<n>  trace=0|1
  *   reps=<set-ups>  clients=<n>  client_rate=<requests/s per client>
  *   mix=<pool tsv>  schedule=<tsv>  entries=<tsv>  round_s=<n>
  *
  * Every set-up gets fresh java.io.tmpdir, warehouse, Spark local and
  * index directories under `work`, and reads the tables through fresh
  * hard links, so nothing a previous set-up (or run) built is reused.
  */
object Harness {

  final class Env(val dir: File, val spark: SparkSession,
                  val data: String, val index: String,
                  val server: Option[HttpApi.Running]) {
    def stop(): Unit = {
      server.foreach(_.stop())
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, sys.error(s"missing argument $k="))

  def main(argv: Array[String]): Unit = {
    val args = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val mode = arg(args, "mode")
    val work = new File(arg(args, "work"))
    val seconds = arg(args, "seconds").toDouble
    val trace = args.get("trace").contains("1")
    val reps = args.getOrElse("reps", "3").toInt
    val out = new Out(Paths.get(arg(args, "out")))
    Header.watchHeap()
    out.put("header_start", Header.snapshot(None))
    val spans = new Spans
    try mode match {
      case "query_api" =>
        Serving.run(args, work, seconds, trace, reps, spans, out)
      case "engine_suite" =>
        Suite.run(args, work, seconds, trace, reps, spans, out)
      case m => sys.error(s"unknown mode $m")
    } finally {
      out.put("peak_rss_mb", Header.peakRssMb())
      out.put("heap_after_gc_mb", Header.heapAfterGcMb)
      out.put("header_end", Header.snapshot(None))
      out.putRaw("spans", spans.toJson.mkString("[", ",\n", "]"))
      out.write()
    }
  }

  /** One isolated set-up: fresh directories, table hard links and
    * session. Returns the environment and the session-start seconds. */
  def isolate(work: File, k: Int, srcData: File): (File, String, String) = {
    val dir = new File(work, s"setup$k")
    Seq("tmp", "warehouse", "local", "index", "data").foreach(
      d => new File(dir, d).mkdirs())
    srcData.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.createLink(new File(dir, s"data/${f.getName}").toPath, f.toPath)
    }
    System.setProperty("java.io.tmpdir", new File(dir, "tmp").getPath)
    (dir, new File(dir, "data").getCanonicalPath,
      new File(dir, "index").getCanonicalPath)
  }

  /** The one session recipe every workload uses. */
  def session(dir: File): SparkSession = {
    val n = Header.nproc
    val spark = graft.engine.Tuning(SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(dir, "local").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    val p = f.toPath
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(x => Files.deleteIfExists(x))
  }

  def readTsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  def note(msg: String): Unit = System.err.println(s"[harness] $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Raw-sample file: one JSON object, keys in insertion order. */
final class Out(path: Path) {
  private val parts = scala.collection.mutable.LinkedHashMap[String, String]()
  def put(k: String, v: Any): Unit = synchronized { parts(k) = Json.value(v) }
  def putRaw(k: String, json: String): Unit = synchronized { parts(k) = json }
  def putRows(k: String, rows: Seq[String]): Unit = putRaw(k, rows.mkString("[", ",\n", "]"))
  def write(): Unit = synchronized {
    val body = parts.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{\n", ",\n", "\n}\n")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Self-describing run header: effective conf, cores, heap, load. */
object Header {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Throwable => "" }

  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  @volatile private var heapAfterGc = 0L

  /** Track the largest heap occupancy seen right after a collection:
    * it follows what the program keeps live, not the heap size the JVM
    * was given (with -Xms = -Xmx, VmHWM only shows the heap flag). */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { heapAfterGc = math.max(heapAfterGc, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU ns of every live Java thread, by thread id. The JIT compiler
    * and GC workers are not Java threads, so their background work does
    * not land on whichever operation happens to be running. */
  def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU time of the whole JVM (every thread, JIT and GC too), in ms. */
  def processCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** Java-thread CPU ms spent since `before`; threads started since
    * count from zero. */
  def cpuMsSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e6

  def heapAfterGcMb: Double = heapAfterGc / (1024.0 * 1024.0)

  def snapshot(spark: Option[SparkSession]): Map[String, Any] = Map(
    "nproc" -> nproc,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "java" -> System.getProperty("java.version"),
    "loadavg" -> loadAvg(),
    "epoch_ms" -> System.currentTimeMillis()) ++
    spark.map(s => "conf" -> s.conf.getAll.toSeq.sortBy(_._1).toMap).toMap
}
