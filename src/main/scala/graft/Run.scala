package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The one runner behind the engine's mains ([[Bench]], [[Verify]],
  * [[Explain]], [[Demo]]) and the test session: one session builder,
  * one staging wrapper, one timed action and one plan capture, so every
  * tool runs under the same conditions by construction.
  *
  * As a main it holds the measurement modes:
  *   - `probe <sfDir> <reps> q...` times each entry `reps` times under
  *     [[materialize]] and prints `name rep sec cpu_ms jobs` per rep
  *     (`cpu_ms`: CPU time of the JVM's Java threads, the benchmark's
  *     `cpu_ms_per_op` definition); the last rep also prints every Spark
  *     job it ran (start offset, duration, description), the local
  *     stand-in for the Spark UI's Jobs page. Each rep runs under the
  *     job description `<name> rep <rep>`, so its jobs, AQE stage jobs
  *     included, carry the entry's name.
  *   - `plan <sfDir> <suffix> q...` writes each entry's [[finalPlan]] to
  *     `plans/<name>_<suffix>.txt`, so a before/after plan diff can back
  *     an optimization claim.
  *
  * Usage: `sbt "runMain graft.Run probe <sfDir> 3 q01_agg q43_approx_distinct"`.
  */
object Run {

  /** Local cores when the caller names none: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's session: `local[cpus]`, one shuffle partition per
    * core, [[graft.engine.Tuning]], UTC (the zone every oracle was
    * verified under), no UI, log level WARN. The periodic driver GC
    * keeps soft refs and broadcast cleanup from snowballing across a
    * long suite into what reads as a query-level regression.
    */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = graft.engine.Tuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[SparkEntry.stage]], failure-tolerant: entries rebuild their
    * artifacts on first use, so a staging bug costs per-entry time, not
    * the whole run. */
  def stage(spark: SparkSession, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    try SparkEntry.stage(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[run] staging failed: ${e.getMessage}")
    }
    System.err.println(
      f"[run] staged ($sfDir) ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The one timed action: compute every row and column and discard
    * them. `.count()` is not used because Catalyst may prune work under
    * it (a final `Sort`, a `Window`), so it would time a different
    * plan than a client receives. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body` with `label` as the description of every Spark job it
    * starts, then clears it. AQE's query-stage jobs inherit the calling
    * thread's local properties, so they carry the label too, not the
    * call site `CompletableFuture.java`. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** The formatted physical plan AFTER adaptive execution finalized it
    * (collect first, explain second), then clears the operators'
    * per-invocation caches. */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    df.sparkSession.catalog.clearCache()
    plan.trim
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: sfDir :: reps :: names if names.nonEmpty =>
      probe(sfDir, reps.toInt, names)
    case "plan" :: sfDir :: suffix :: names if names.nonEmpty =>
      plan(sfDir, suffix, names)
    case _ =>
      System.err.println(
        "usage: graft.Run probe <sfDir> <reps> q... | plan <sfDir> <suffix> q...")
      sys.exit(2)
  }

  private def probe(sfDir: String, reps: Int, names: Seq[String]): Unit = {
    // Resolve names first: a typo fails before the staging cost.
    val entries = names.map(n => n -> SparkEntry.queries(n))
    val spark = session()
    stage(spark, sfDir)
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    for ((name, fn) <- entries; rep <- 1 to reps) {
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      val err = try { labelled(spark, s"$name rep $rep")(materialize(fn(spark, sfDir))); None }
      catch { case e: Throwable => Some(e.toString.linesIterator.next().take(160)) }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuMs = cpuMsSince(cpu0)
      val ran = jobs.drain()
      spark.catalog.clearCache()
      println(f"$name%s $rep%d $sec%.3f $cpuMs%.0f ${ran.size}%d${err.fold("")(" ERR " + _)}")
      if (rep == reps) {
        val first = ran.map(_.startMs).minOption.getOrElse(0L)
        ran.foreach { j =>
          println(f"  job ${j.id}%3d +${(j.startMs - first) / 1000.0}%6.2f s  " +
            f"${j.durMs / 1000.0}%6.3f s  ${j.desc.take(110)}")
        }
      }
    }
    spark.stop()
  }

  private def plan(sfDir: String, suffix: String, names: Seq[String]): Unit = {
    val entries = names.map(n => n -> SparkEntry.queries(n))
    val spark = session()
    stage(spark, sfDir)
    Files.createDirectories(Paths.get("plans"))
    entries.foreach { case (name, fn) =>
      val out = Paths.get(s"plans/${name}_$suffix.txt")
      Files.writeString(out, finalPlan(fn(spark, sfDir)) + "\n")
      println(s"wrote $out")
    }
    spark.stop()
  }

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU ns of every live Java thread, by thread id. The JIT compiler
    * and the GC workers are not Java threads, so their background work
    * is not charged to the entry that happens to be running. */
  private def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Java-thread CPU ms spent since `before`; threads started since
    * count from zero. */
  private def cpuMsSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e6

  private final case class Job(id: Int, startMs: Long, durMs: Long, desc: String)

  /** Spark jobs that ended since the last [[drain]]. */
  private final class JobLog extends SparkListener {
    private val open = new ConcurrentHashMap[Int, (Long, String)]()
    private val ended = new ConcurrentLinkedQueue[Job]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .filter(_.nonEmpty)
        .orElse(js.stageInfos.lastOption.map(si =>
          si.name + " | " + js.stageInfos.map(_.numTasks).sum + " tasks"))
        .getOrElse("")
      open.put(js.jobId, (js.time, desc))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(open.remove(je.jobId)).foreach { case (t0, desc) =>
        ended.add(Job(je.jobId, t0, je.time - t0, desc))
      }

    /** Listener events arrive asynchronously: wait (at most 2 s) for the
      * end events of jobs already seen to start, then take every ended
      * job in id order. */
    def drain(): Seq[Job] = {
      val deadline = System.nanoTime() + 2000000000L
      while (!open.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      Iterator.continually(ended.poll()).takeWhile(_ != null).toVector.sortBy(_.id)
    }
  }
}
