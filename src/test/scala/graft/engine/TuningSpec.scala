package graft.engine

import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

class TuningSpec extends SparkSpec {

  private val expected = Seq(
    Tuning.ObjectAggFallbackKey -> Tuning.ObjectAggFallbackEntries.toString,
    Tuning.AutoBucketedScanKey -> "false",
    Tuning.InferTimestampNtzKey -> "false",
    Tuning.CachedPlanAqeKey -> "true",
    Tuning.ParallelListingThresholdKey ->
      Tuning.ParallelListingThreshold.toString,
    Tuning.CodegenCacheMaxEntriesKey -> Tuning.CodegenCacheMaxEntries.toString,
    Tuning.CodegenIdInClassNameKey -> "false",
    Tuning.ArtifactIsolationKey -> "false")

  test("ensure sets every engine setting on a session that has none") {
    val s = spark.newSession()
    // A static setting can be neither unset nor set on a live session:
    // it keeps the builder's value.
    val (runtime, static) = expected.partition { case (k, _) => s.conf.isModifiable(k) }
    assert(static.map(_._1) == Seq(Tuning.CodegenCacheMaxEntriesKey))
    runtime.foreach { case (k, _) => s.conf.unset(k) }
    assert(runtime.forall { case (k, _) => !s.conf.getAll.contains(k) })
    Tuning.ensure(s)
    val missed = expected.filterNot { case (k, v) =>
      s.conf.getAll.get(k).contains(v) }
    assert(missed.isEmpty, s"ensure left unset: ${missed.map(_._1)}")
  }

  test("ensure skips a static setting the session never set instead of " +
    "throwing") {
    val s = spark.newSession()
    val static = "spark.sql.streaming.ui.retainedQueries"
    assert(!s.conf.isModifiable(static) && !s.conf.getAll.contains(static))
    intercept[AnalysisException](s.conf.set(static, "7"))
    s.conf.unset(Tuning.AutoBucketedScanKey)
    Tuning.ensure(s, Seq(static -> "7", Tuning.AutoBucketedScanKey -> "false"))
    assert(!s.conf.getAll.contains(static))
    assert(s.conf.get(Tuning.AutoBucketedScanKey) == "false")
  }
}
