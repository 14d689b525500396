package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.engine.Tuning

class RunSpec extends SparkSpec {

  test("Run.session(4) is the spec session and carries every engine setting") {
    val s = Run.session(4)
    assert(s eq SparkSpec.session)
    Tuning.Settings.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "1min")
  }

  private val aqe = new AdaptiveSparkPlanHelper {}
  private def sorts(p: SparkPlan): Boolean = aqe.find(p)(_.isInstanceOf[SortExec]).isDefined

  test("materialize runs the final ORDER BY sort that count() lets Catalyst drop") {
    val entry = SparkEntry.queries("q01_agg")
    val materialized = executedPlans(Run.materialize(entry(spark, sf001)))(
      _.exists(p => sorts(p._2)))
    assert(materialized.exists(p => sorts(p._2)), materialized.mkString("\n"))
    // Only the count's own event: a late one from the write above would
    // carry the write's plan.
    val counted = executedPlans(entry(spark, sf001).count())(
      _.exists(_._1 == "count")).filter(_._1 == "count")
    assert(counted.nonEmpty && !counted.exists(p => sorts(p._2)),
      counted.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("Run.labelled names every job it starts, AQE's query-stage jobs included") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val label = "q43_approx_distinct rep 1"
    // Descriptions of the jobs started; ends are counted so the wait
    // below covers every job the action ran.
    val started = new ConcurrentLinkedQueue[String]()
    val ended = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = started.add(
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Run.labelled(spark, label)(
        Run.materialize(SparkEntry.queries("q43_approx_distinct")(spark, sf001)))
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
      val deadline = System.nanoTime() + 10000000000L
      while (ended.get < started.size && System.nanoTime() < deadline) Thread.sleep(5)
    } finally spark.sparkContext.removeSparkListener(listener)
    // AQE runs each query stage of q43's shuffles as a job of its own,
    // submitted from another thread, before the write's result job.
    val descs = started.toArray(Array.empty[String]).toSeq
    assert(descs.size >= 2 && descs.forall(_ == label), descs.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("Bench's per-entry line and summary parse whatever an error text holds") {
    val err = "boom\t\"quoted\"\u0001 end"
    val results = Seq(
      Bench.Result("q01_agg", 0.5, None, 1L, 2L, 3L, 0.25),
      Bench.Result("q02_filter_project", 1.25, Some(err), 4L, 5L, 6L, -1.0))
    val json = new ObjectMapper()
    assert(json.readTree(Bench.line(results(1))).get("error").asText == err)
    val text = Bench.summary(results, sf001, 4, 0.5, 0.75)
    assert(!text.exists(_ < ' '), text)
    val summary = json.readTree(text)
    assert(summary.get("errors").get("q02_filter_project").asText == err)
    assert(summary.get("queries").size == 2)
    assert(summary.get("cpus").asInt == 4)
    assert(summary.get("action").asText == "noop")
    assert(summary.get("value").asDouble == 1.75)
  }
}
