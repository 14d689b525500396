package graft.engine

import graft.SparkSpec

class TuningSpec extends SparkSpec {

  test("ensure sets every engine setting on a session that has none") {
    val expected = Seq(
      Tuning.ObjectAggFallbackKey -> Tuning.ObjectAggFallbackEntries.toString,
      Tuning.AutoBucketedScanKey -> "false",
      Tuning.InferTimestampNtzKey -> "false",
      Tuning.CachedPlanAqeKey -> "true",
      Tuning.ParallelListingThresholdKey ->
        Tuning.ParallelListingThreshold.toString)
    val s = spark.newSession()
    expected.foreach { case (k, _) => s.conf.unset(k) }
    assert(expected.forall { case (k, _) => !s.conf.getAll.contains(k) })
    Tuning.ensure(s)
    val missed = expected.filterNot { case (k, v) =>
      s.conf.getAll.get(k).contains(v) }
    assert(missed.isEmpty, s"ensure left unset: ${missed.map(_._1)}")
  }
}
