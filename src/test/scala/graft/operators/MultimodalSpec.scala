package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** A deterministic in-memory media table: payload bytes derive from
    * the id. */
  private def synthetic(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val mod = Seq("image", "audio", "video")(i % 3)
      val len = 64 + (i * 37) % 512
      val bytes = Array.tabulate[Byte](len)(j => ((i * 31 + j * 7) % 251).toByte)
      Row(i.toLong, mod, s"application/x-fake-$mod",
        if (mod == "image") Integer.valueOf(64 + i % 64) else null,
        if (mod == "image") Integer.valueOf(64 + i % 48) else null,
        if (mod != "image") java.lang.Long.valueOf(1000L + i) else null,
        bytes)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
  }

  test("synthetic media table conforms to the media schema") {
    val m = synthetic(30)
    assert(m.schema == Multimodal.mediaSchema)
    assert(m.count() == 30)
    assert(m.select("modality").distinct().count() == 3)
  }

  test("sampleFrames explodes every stride-th block") {
    val m = synthetic(5)
    val frames = Multimodal.sampleFrames(m, blockSize = 64, stride = 2)
    val byId = frames.select("media_id", "frame_no")
      .as[(Long, Int)].collect().groupBy(_._1)
    // media 0 has 64 bytes → 1 block → frame 0 only
    assert(byId(0L).map(_._2).toSeq.sorted == Seq(0))
    // frames are stride-aligned
    assert(frames.select("frame_no").as[Int].collect().forall(_ % 2 == 0))
  }

  test("resizeStub keeps every factor-th byte, byte-exactly") {
    val m = synthetic(5)
    val orig = m.select("media_id", "payload")
      .as[(Long, Array[Byte])].collect().toMap
    val resized = Multimodal.resizeStub(m, factor = 3)
      .select("media_id", "orig_bytes", "payload")
      .as[(Long, Long, Array[Byte])].collect()
    assert(resized.length == 5)
    resized.foreach { case (id, nOrig, bytes) =>
      val o = orig(id)
      assert(nOrig == o.length.toLong)
      assert(bytes.length == (o.length + 2) / 3)
      assert(bytes.toSeq == o.indices.collect {
        case i if i % 3 == 0 => o(i)
      }.toSeq)
    }
  }

  test("withByteStats computes sizes and digests in pure SQL") {
    val m = synthetic(4)
    val s = Multimodal.withByteStats(m)
      .select("media_id", "n_bytes", "digest", "head_hex")
      .collect()
    assert(s.forall(_.getString(2).length == 32)) // md5 hex
    assert(s.forall(_.getString(3).length == 8))  // 4 bytes hex
  }
}
