package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed fact-fact join plans with NO shuffle exchange") {
    // in-memory catalog forgets tables between sessions but leaves the
    // warehouse files — clear both
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete())
        loc.delete()
      }
    }
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_b", 4, Seq("l_orderkey"))
    Bucketing.writeBucketed(o, "o_b", 4, Seq("o_orderkey"))
    // co-located equi-join on the bucket keys: with matching bucket
    // counts, neither side shuffles
    val (lb, ob) = (spark.table("li_b"), spark.table("o_b"))
    val joined = lb.join(ob, lb("l_orderkey") === ob("o_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(1200)}")
    // and it is still correct
    val expect = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    assert(joined.count() == expect)
  }

  test("compact bin-packs a fragmented directory, content identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // fragment: 40 tiny files
    (1 to 2000).map(i => (i.toLong, s"row-$i-${"x" * 50}")).toDF("id", "v")
      .repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (nBefore, nAfter) =
      Bucketing.compact(spark, dir, targetBytes = bytes / 4)
    assert(nBefore == 40)
    assert(nAfter <= 5 && nAfter >= 3, s"expected ~4 files, got $nAfter")
    val after = spark.read.parquet(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq == before.toSeq, "compaction changed the data")
  }

  test("compactZordered defragments AND restores narrow envelopes in " +
    "one pass, content identical") {
    val dir = Files.createTempDirectory("zcompact").toString + "/t"
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // fragment with a value-hash scatter: many files, full-range
    // envelopes on every clustered column
    li.repartition(40, col("l_orderkey"), col("l_partkey"),
        col("l_quantity"))
      .write.mode("overwrite").parquet(dir)
    def sig(d: String): (Long, Long) =
      spark.read.parquet(d)
        .agg(sum(expr("pmod(xxhash64(l_orderkey, l_partkey, " +
          "l_quantity), 1000000000037)")), count(lit(1)))
        .as[(Long, Long)].head()
    def meanEnvelope(d: String, c: String): Double =
      spark.read.parquet(d)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("w"))
        .agg(avg("w")).as[Double].head()
    val before = sig(dir)
    val envBefore = meanEnvelope(dir, "l_partkey")
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (nBefore, nAfter) = Bucketing.compactZordered(spark, dir,
      Seq("l_orderkey", "l_partkey"), targetBytes = bytes / 8)
    assert(nBefore == 40 && nAfter < 12, s"$nBefore -> $nAfter")
    assert(sig(dir) == before, "clustered compaction changed the data")
    // plain compact would round-robin (envelopes stay full-range);
    // the clustered rewrite must tighten them
    assert(meanEnvelope(dir, "l_partkey") < envBefore * 0.75,
      "clustering not restored by the compaction rewrite")
  }

  test("compact refuses layouts it would corrupt") {
    import spark.implicits._
    // hive-partitioned: rewriting would fold the partition column into
    // one flat file and drop the subdirectories
    val part = java.nio.file.Files.createTempDirectory("compact-p").toString + "/t"
    (1 to 100).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .write.partitionBy("p").parquet(part)
    val e1 = intercept[IllegalArgumentException](Bucketing.compact(spark, part))
    assert(e1.getMessage.contains("partitioned"), e1.getMessage)
    assert(spark.read.parquet(part).count() == 100, "refusal must not mutate")

    // non-parquet data files would be silently lost on the swap
    val stray = java.nio.file.Files.createTempDirectory("compact-s").toString + "/t"
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(stray)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(stray, "sidecar.json"), "{}")
    val e2 = intercept[IllegalArgumentException](Bucketing.compact(spark, stray))
    assert(e2.getMessage.contains("sidecar.json"), e2.getMessage)

    // a non-empty directory with zero parquet files is not a dataset
    val empty = java.nio.file.Files.createTempDirectory("compact-e").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(empty, "data.csv"), "a,b\n1,2\n")
    val e3 = intercept[IllegalArgumentException](
      Bucketing.compact(spark, empty))
    assert(e3.getMessage.contains("no *.parquet"), e3.getMessage)
  }

  test("IVF index: search prunes to one bucket partition and ranks exactly") {
    val dir = Files.createTempDirectory("graft-ivf").toString + "/idx"
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    Similarity.buildIvfIndex(emb, dir)
    // use vector 0 as the query
    val q = emb.filter(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .as[Seq[Double]].head().toArray
    val hits = Similarity.searchIvf(spark, dir, q, k = 5)
    val rows = hits.as[(Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 5)
    // partition pruning visible in the scan
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      plan.take(1200))
    // top hit must be the query vector itself (cos 1.0 with itself)
    assert(rows.head._1 == 0L && math.abs(rows.head._2 - 1.0) < 1e-12)
    // ranking matches brute force restricted to the same bucket
    val cosToQ = rows.map(_._2)
    assert(cosToQ.sorted.reverse.toSeq == cosToQ.toSeq)
  }

  test("zorderWrite narrows per-file envelopes on BOTH clustered columns") {
    val base = Files.createTempDirectory("zorder").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // the unclustered twin hash-scatters on the VALUE columns — like
    // round-robin it gives every file a near-full range on both
    // clustered columns, but unlike round-robin (whose placement
    // follows scan-split history) it is a pure function of row values,
    // so both layouts compared here are session-order-deterministic
    li.repartition(8, col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .write.mode("overwrite").parquet(s"$base/rr")
    Bucketing.zorderWrite(li, s"$base/z",
      Seq("l_orderkey", "l_partkey"), bits = 8, numFiles = 8)
    // identical multiset content, different layout (order-invariant
    // hash-sum signature — except() would miss duplicate-row changes)
    // modular hash-sum: order-invariant, exact (6k × 10^12 < 2^63),
    // and unlike bit_xor not blind to even-multiplicity row changes
    def sig(dir: String): (Long, Long) =
      spark.read.parquet(dir)
        .agg(sum(expr(
          "pmod(xxhash64(l_orderkey, l_partkey, l_quantity), 1000000000037)")),
          count(lit(1)))
        .as[(Long, Long)].head()
    assert(sig(s"$base/z") == sig(s"$base/rr"))
    // mean per-file (max - min) envelope of each clustered column:
    // z-ordering must shrink it vs round-robin on BOTH columns at once
    def meanEnvelope(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("w"))
        .agg(avg("w")).as[Double].head()
    // both layouts are deterministic (computed z boundaries on one
    // side, value-hash scatter on the other), so these ratios are
    // fixed numbers for this fixture; 0.75 leaves slack over the
    // observed ~0.5 rather than sitting on the measured edge
    for (c <- Seq("l_orderkey", "l_partkey")) {
      val rr = meanEnvelope(s"$base/rr", c)
      val zo = meanEnvelope(s"$base/z", c)
      info(f"$c: envelope ratio ${zo / rr}%.3f (z=$zo%.1f scattered=$rr%.1f)")
      assert(zo < rr * 0.75,
        s"$c: z-order envelope $zo not narrower than scattered $rr")
    }
  }

  test("zorderWrite is layout-deterministic: rewrite from any input " +
    "partitioning reproduces per-file contents exactly") {
    val base = Files.createTempDirectory("zorderdet").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    Bucketing.zorderWrite(li, s"$base/a",
      Seq("l_orderkey", "l_partkey"), bits = 8, numFiles = 8)
    // a different (and prime, so nothing aligns) input partitioning
    // must land every row in the same output file: boundaries come
    // from an exact histogram and placement from value hashing, so
    // nothing in the layout depends on how the input was split
    Bucketing.zorderWrite(li.repartition(13), s"$base/b",
      Seq("l_orderkey", "l_partkey"), bits = 8, numFiles = 8)
    // per-file MULTISET signature (order within a file may permute
    // tied _z rows; file membership may not)
    def sig(dir: String): Seq[(String, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(regexp_extract(input_file_name(), "part-(\\d+)", 1)
          .as("f"))
        .agg(sum(expr(
          "pmod(xxhash64(l_orderkey, l_partkey, l_quantity), 1000000000037)"))
          .as("sig"), count(lit(1)).as("n"))
        .orderBy("f")
        .as[(String, Long, Long)].collect().toSeq
    val (a, b) = (sig(s"$base/a"), sig(s"$base/b"))
    assert(a.length == 8, s"expected 8 files, got ${a.map(_._1)}")
    assert(a == b)
  }

  test("zorder with 8 clustered columns stays monotone (no sign-bit corruption)") {
    // 8 columns × the default bits=8 would put the top bucket bit of
    // the 8th column at position 63 — the Long sign bit — making every
    // row past the range midpoint NEGATIVE and range-sorting it before
    // row 0. The cap (63/8 = 7 bits per column) must keep z-values
    // non-negative and dominance-monotone. The diagonal (i,i,...,i) is
    // totally ordered under coordinate dominance, so its z-values must
    // be non-decreasing in i — the midpoint wrap is exactly what this
    // catches.
    val cols = (0 until 8).map(j => s"c$j")
    val diag = (0 to 255).map(i => (i, i, i, i, i, i, i, i))
      .toDF(cols: _*)
    val z = Bucketing.zorderFrame(diag, cols, bits = 8)
      .orderBy("c0").select("_z").as[Long].collect()
    assert(z.forall(_ >= 0L), s"negative z-values: ${z.filter(_ < 0).take(3).toSeq}")
    assert(z.zip(z.tail).forall { case (a, b) => a <= b },
      "z not monotone along the dominance diagonal")
    // strictly increasing somewhere — the cap must not collapse ranks
    assert(z.distinct.length > 100, s"z collapsed to ${z.distinct.length} ranks")

    // and the end-to-end write with 8 clustered columns round-trips
    val base = Files.createTempDirectory("zorder8").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Bucketing.zorderWrite(li, s"$base/z8", li.columns.toSeq, numFiles = 4)
    val back = spark.read.parquet(s"$base/z8")
    assert(back.columns.sorted.toSeq == li.columns.sorted.toSeq)
    assert(back.count() == li.count())

    // >63 columns cannot interleave at all — hard refusal, not wrap
    val wide = (0 until 64).map(j => s"w$j")
    val row = spark.range(1).select(wide.map(c => lit(1).as(c)): _*)
    val e = intercept[IllegalArgumentException](
      Bucketing.zorderFrame(row, wide, bits = 1))
    assert(e.getMessage.contains("63"), e.getMessage)
  }

  test("vacuumStaging reclaims aged stage/old orphans only — fresh " +
    "builds, published dirs and foreign prefixes survive") {
    val parent = Files.createTempDirectory("graft-vacstage").toFile
    def mk(name: String, aged: Boolean): java.io.File = {
      val d = new java.io.File(parent, name)
      d.mkdirs()
      val f = new java.io.File(d, "part-0.parquet")
      f.createNewFile()
      if (aged) {
        val old = System.currentTimeMillis() - 10L * 3600 * 1000
        f.setLastModified(old); d.setLastModified(old)
      }
      d
    }
    val crashedStage = mk("x.stage-aaaa1111", aged = true)
    val crashedAside = mk("x.old-bbbb2222", aged = true)
    val liveStage = mk("x.stage-cccc3333", aged = false)
    val published = mk("x", aged = true)
    val foreign = mk("y.stage-dddd4444", aged = true)
    assert(Bucketing.vacuumStaging(parent, Seq("x")) == 2)
    assert(!crashedStage.exists() && !crashedAside.exists())
    assert(liveStage.exists(), "a live stager's fresh tmp must survive")
    assert(published.exists(), "the published dir must survive")
    assert(foreign.exists(), "other prefixes are out of scope")
    // a second pass finds nothing; olderThanMs=0 then takes the rest
    assert(Bucketing.vacuumStaging(parent, Seq("x")) == 0)
    assert(Bucketing.vacuumStaging(parent, Seq("x", "y"),
      olderThanMs = 0L) == 2)
    assert(!liveStage.exists() && !foreign.exists())
    assert(published.exists())
  }

  test("atomicStage adopts a complete dir another staging published " +
    "while it built; only force replaces it") {
    val parent = Files.createTempDirectory("graft-stage-race").toFile
    def publishDuring(dir: java.io.File, force: Boolean): Unit =
      Bucketing.atomicStage(dir, force) { tmp =>
        tmp.mkdirs()
        Files.writeString(new java.io.File(tmp, "who").toPath, "us")
        // the rival's complete dir lands mid-build
        dir.mkdirs()
        Files.writeString(new java.io.File(dir, "who").toPath, "them")
        new java.io.File(dir, "_SUCCESS").createNewFile()
      }
    def who(dir: java.io.File) =
      Files.readString(new java.io.File(dir, "who").toPath)
    val kept = new java.io.File(parent, "kept")
    publishDuring(kept, force = false)
    assert(who(kept) == "them")
    val replaced = new java.io.File(parent, "replaced")
    publishDuring(replaced, force = true)
    assert(who(replaced) == "us")
    assert(parent.list().sorted.toSeq == Seq("kept", "replaced"),
      "no stage or aside dir may be left behind")
  }
}
