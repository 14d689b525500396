package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SegmentedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "x x y"),
    (2L, "x z"),
    (3L, "y y y z"),
    (4L, "w only"))
    .toDF("doc_id", "text")

  private def freshIndex(): String = {
    val root = Files.createTempDirectory("graft-sx").toString
    SegmentedIndex.append(spark, root,
      corpus.filter(col("doc_id") <= 2), "a", nBuckets = 4)
    SegmentedIndex.append(spark, root,
      corpus.filter(col("doc_id") > 2), "b")
    root
  }

  test("segment artifact reads log no 'All paths were ignored' " +
    "warning: ingest, delete, search, fetch and fuzzy on a fresh index") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-spec-ignored-paths", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    rootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    val hits = try {
      val root = freshIndex()
      SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
      Seq(SegmentedIndex.search(spark, root, Seq("x", "y"), 10),
        SegmentedIndex.fetch(spark, root, Seq(1L, 3L)),
        SegmentedIndex.fuzzySearch(spark, root, Seq("yy"), k = 5))
        .map(_.collect().length)
    } finally {
      rootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    // the calls really read the artifacts: hits, stored rows, and a
    // dictionary-resolved fuzzy expansion
    assert(hits == Seq(2, 2, 2), hits.toString)
    import scala.jdk.CollectionConverters._
    val ignored = seen.asScala.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  test("append is idempotent per batch key; segments count once") {
    val root = freshIndex()
    SegmentedIndex.append(spark, root,
      corpus.filter(col("doc_id") <= 2), "a")
    assert(SegmentedIndex.stats(root) == ((2L, 0L, 4L)))
  }

  test("Lucene statistics semantics: tombstoned docs leave the hit " +
    "list immediately but keep counting toward N and df until merge") {
    val root = freshIndex()
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.stats(root) == ((2L, 1L, 4L)))
    val hits = SegmentedIndex.search(spark, root, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    // N=4, df(x)=2 (deleted doc 2 still counted), df(y)=2:
    // doc1 = 2*(4/2) + 1*(4/2) = 6.0; doc3 = 3*(4/2) = 6.0; tie by id
    assert(hits == Seq((1L, 6.0, 2L), (3L, 6.0, 1L)), hits.toString)
  }

  test("merge applies tombstones, shifts the statistics, folds to one " +
    "segment, and retires the old directories") {
    val root = freshIndex()
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.merge(spark, root) == ((2, 1)))
    // 3 surviving docs, total_len = 3 + 4 + 2
    assert(SegmentedIndex.stats(root) == ((1L, 0L, 3L)))
    val hits = SegmentedIndex.search(spark, root, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    // post-merge: N=3, df(x)=1, df(y)=2:
    // doc1 = 2*(3/1) + 1*(3/2) = 7.5; doc3 = 3*(3/2) = 4.5
    assert(hits == Seq((1L, 7.5, 2L), (3L, 4.5, 1L)), hits.toString)
    // superseded dirs STAY until their generations retire: vacuum
    // keeps anything a RETAINED manifest generation references (the
    // searchAt PIT contract), so right after the merge it reclaims
    // NOTHING — the pre-merge generations still pin the old dirs
    def segDirs() = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("seg=") ||
        f.getName.startsWith("del="))
    assert(segDirs().length == 4, segDirs().map(_.getName).mkString(","))
    assert(SegmentedIndex.vacuum(root, olderThanMs = 0L) == 0,
      "vacuum must not reclaim dirs a retained generation references")
    // explicit retirement makes reclaim reachable: only the newest
    // (post-merge) generation survives, then vacuum retires the olds
    assert(SegmentedIndex.retireGenerations(root, keep = 1) == 3)
    assert(SegmentedIndex.vacuum(root, olderThanMs = 0L) == 3)
    assert(segDirs().length == 1, segDirs().map(_.getName).mkString(","))
    assert(SegmentedIndex.merge(spark, root) == ((0, 0)))
    // append keeps working on the merged index
    SegmentedIndex.append(spark, root,
      Seq((9L, "x y z")).toDF("doc_id", "text"), "c")
    assert(SegmentedIndex.stats(root) == ((2L, 0L, 4L)))
  }

  test("upsert replaces versions atomically; the prefix-scoped " +
    "tombstone spares new versions, and a re-added doc resurfaces") {
    val root = freshIndex()
    // doc 2 re-indexed as "z z", doc 5 brand new — one manifest commit
    SegmentedIndex.upsert(spark, root,
      Seq((2L, "z z"), (5L, "x w")).toDF("doc_id", "text"), "u1")
    SegmentedIndex.upsert(spark, root,
      Seq((2L, "z z"), (5L, "x w")).toDF("doc_id", "text"), "u1")
    assert(SegmentedIndex.stats(root) == ((3L, 1L, 6L)),
      "idempotent upsert: one segment pair, N counts old AND new versions")
    // df(x)=3 (doc1, doc2-OLD still counted, doc5), N=6: the old
    // version of doc 2 is out of the hits, the new one has no x
    val xs = SegmentedIndex.search(spark, root, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(xs == Seq((1L, 4.0, 1L), (5L, 2.0, 1L)), xs.toString)
    // the NEW version scores: df(z)=3 (doc2-old 'x z', doc3, doc2-new)
    val zs = SegmentedIndex.search(spark, root, Seq("z"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(zs == Seq((2L, 4.0, 1L), (3L, 2.0, 1L)), zs.toString)
    // delete doc 3, then RE-ADD it: the tombstone applies only to
    // segments before it (Lucene's rule), so the re-add resurfaces
    SegmentedIndex.delete(spark, root, Seq(3L).toDF("doc_id"), "d3")
    SegmentedIndex.append(spark, root,
      Seq((3L, "z only")).toDF("doc_id", "text"), "c")
    val zs2 = SegmentedIndex.search(spark, root, Seq("z"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    // N=7, df(z)=4 (both doc2 versions, both doc3 versions)
    assert(zs2 == Seq((2L, 3.5, 1L), (3L, 1.75, 1L)), zs2.toString)
    // merge applies every tombstone to its scope: survivors are
    // doc1, doc4, doc2-new, doc5, doc3-new
    SegmentedIndex.merge(spark, root)
    assert(SegmentedIndex.stats(root) == ((1L, 0L, 5L)))
    val zs3 = SegmentedIndex.search(spark, root, Seq("z"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    // post-merge: N=5, df(z)=2 → doc2 2*(5/2)=5.0, doc3 1*(5/2)=2.5
    assert(zs3 == Seq((2L, 5.0, 1L), (3L, 2.5, 1L)), zs3.toString)
  }

  test("phraseSearch works on the live index: counts occurrences " +
    "across segments, a tombstoned doc's hits vanish, an upserted " +
    "version's new positions serve") {
    val root = Files.createTempDirectory("graft-sxp").toString
    SegmentedIndex.append(spark, root,
      Seq((1L, "a b c a b"), (2L, "a b only")).toDF("doc_id", "text"),
      "a", nBuckets = 4)
    SegmentedIndex.append(spark, root,
      Seq((3L, "x a b y")).toDF("doc_id", "text"), "b")
    def hits() = SegmentedIndex.phraseSearch(spark, root, Seq("a", "b"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits() == Seq((1L, 2L, 0L), (2L, 1L, 0L), (3L, 1L, 1L)))
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(hits() == Seq((1L, 2L, 0L), (3L, 1L, 1L)),
      "a tombstoned doc's phrase hits must vanish immediately")
    // upsert doc 3: phrase moves; old version's positions must not leak
    SegmentedIndex.upsert(spark, root,
      Seq((3L, "a b a b z")).toDF("doc_id", "text"), "u1")
    assert(hits() == Seq((1L, 2L, 0L), (3L, 2L, 0L)))
    // and the phrase survives a full merge unchanged
    SegmentedIndex.merge(spark, root)
    assert(hits() == Seq((1L, 2L, 0L), (3L, 2L, 0L)))
  }

  test("fuzzySearch resolves through the dictionary (tombstoned " +
    "docs' terms included until merge) but ranks live hits only") {
    val root = Files.createTempDirectory("graft-sxf").toString
    SegmentedIndex.append(spark, root,
      Seq((1L, "vector math"), (2L, "vectra brand")).toDF("doc_id", "text"),
      "a", nBuckets = 4)
    SegmentedIndex.append(spark, root,
      Seq((3L, "vector vector here")).toDF("doc_id", "text"), "b")
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    val out = SegmentedIndex.fuzzySearch(spark, root, Seq("vectro"),
        k = 5, maxDist = 2)
      .as[(String, String, Long, Long, Double, Long)].collect().toSeq
    // 'vectra' resolves in the dictionary pass (doc 2's term survives
    // the tombstone until merge) but carries no LIVE docs, so only
    // 'vector' emits rows — and doc 2 itself never ranks
    assert(out.map(_._2).distinct == Seq("vector"), out.toString)
    assert(!out.exists(_._4 == 2L), "tombstoned doc must not rank")
    // stats phase: N=3 (doc 2 counted), df(vector)=2 → doc3 tf2*(3/2)=3
    val top = out.filter(_._2 == "vector").minBy(_._6)
    assert(top._4 == 3L && top._5 == 3.0, top.toString)
    // post-merge the stats shift: N=2, df(vector)=2 → doc3 tf2*(2/2)=2
    SegmentedIndex.merge(spark, root)
    val out2 = SegmentedIndex.fuzzySearch(spark, root, Seq("vectro"),
        k = 5, maxDist = 2)
      .as[(String, String, Long, Long, Double, Long)].collect().toSeq
    assert(out2.map(_._2).distinct == Seq("vector"), out2.toString)
    assert(out2.filter(_._2 == "vector").minBy(_._6)._5 == 2.0,
      out2.toString)
    // a query with no dictionary match returns empty, schema intact
    assert(SegmentedIndex.fuzzySearch(spark, root, Seq("zzzzzz"),
      k = 5, maxDist = 2).count() == 0L)
  }

  test("manifest generations are create-exclusive and pruned: commits " +
    "advance g<n>, a planted colliding generation fails the writer " +
    "LOUDLY, and only the newest 8 generations survive") {
    val root = Files.createTempDirectory("graft-gens").toString
    (1 to 10).foreach { i =>
      SegmentedIndex.append(spark, root,
        Seq((i.toLong, s"doc $i x")).toDF("doc_id", "text"), s"b$i",
        nBuckets = 4)
    }
    val gens = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("_SEGMENTS.g")).map(_.getName).sorted
    assert(gens.length == 8, s"expected 8 kept generations: ${gens.toSeq}")
    assert(gens.last.endsWith("10"), gens.last)
    assert(SegmentedIndex.stats(root)._1 == 10L,
      "newest generation must list all ten segments")
    // the lost-update window: a writer whose read-modify-write was
    // overtaken (its prevGen is stale because another writer committed
    // first) collides on the generation number and fails LOUDLY —
    // never silently replacing the winner's manifest
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      SegmentedIndex.commitStaleManifestForTest(
        new java.io.File(root), stalePrevGen = 9L)
    }
    assert(SegmentedIndex.stats(root)._1 == 10L,
      "the loser's failed commit must leave the winner's intact")
  }

  test("same-batch appenders racing on one fresh root all return: " +
    "losers adopt the winner's commit, the segment is listed once, " +
    "and search equals a single writer's index") {
    val solo = Files.createTempDirectory("graft-race-solo").toString
    SegmentedIndex.append(spark, solo, corpus, "same", nBuckets = 4)
    def hits(root: String) = SegmentedIndex
      .search(spark, root, Seq("x", "y", "z", "w"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    val want = hits(solo)
    val writers = 4
    (1 to 4).foreach { round =>
      val root = Files.createTempDirectory(s"graft-race-$round").toString
      val go = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val calls = (1 to writers).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              go.await()
              SegmentedIndex.append(spark, root, corpus, "same",
                nBuckets = 4)
            }
          })
        }
        go.countDown()
        // get() rethrows a writer's failure
        calls.foreach(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      } finally pool.shutdownNow()
      assert(SegmentedIndex.stats(root) == ((1L, 0L, 4L)),
        s"round $round: the batch must be listed exactly once")
      assert(hits(root) == want, s"round $round")
    }
  }

  test("fetch pushes the id filter into the doc_id-sorted stored " +
    "files: the stored scan outputs only the requested rows, never " +
    "the segment") {
    val root = Files.createTempDirectory("graft-fetchpush").toString
    val docs = (1L to 200L).map(i => (i, s"stored doc number$i"))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "bulk", nBuckets = 4)
    val out = SegmentedIndex.fetch(spark, root, Seq(7L, 143L))
    assert(out.as[(Long, String)].collect().toSeq ==
      Seq((7L, "stored doc number7"), (143L, "stored doc number143")))
    // the executed stored-field scan returned 2 rows, not 200: the
    // IN filter reached the parquet reader (sorted row groups make
    // the skip a footer-stat prune at real sizes). AQE wraps the
    // finalized plan — unwrap before collecting scan metrics.
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }
    assert(scans.nonEmpty && scans.max <= 2L,
      s"stored scan read ${scans.toSeq} rows — pushdown lost")
  }

  test("snapshot replaces a TORN destination segment instead of " +
    "adopting it — the crashed-copy regression") {
    val root = freshIndex()
    val dest = Files.createTempDirectory("graft-snaptorn").toString + "/s"
    // plant a crashed snapshot's torn copy: segment dir exists,
    // partial content, NO _SUCCESS marker
    val segName = {
      val fp = graft.engine.Bucketing.fingerprint8("sx4|a")
      s"seg=$fp"
    }
    val torn = new java.io.File(dest, segName)
    torn.mkdirs()
    Files.writeString(new java.io.File(torn, "garbage").toPath, "torn")
    assert(SegmentedIndex.snapshot(root, dest) == 2,
      "the torn segment must be re-copied, not skipped")
    assert(!new java.io.File(torn, "garbage").exists(),
      "torn content must be replaced by the complete copy")
    assert(new java.io.File(torn, "_SUCCESS").isFile)
    val got = SegmentedIndex.search(spark, dest, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq
    assert(got == Seq(1L, 2L), got.toString)
    // and the re-snapshot now skips both complete segments
    assert(SegmentedIndex.snapshot(root, dest) == 0)
  }

  test("maxScoreSearch: exact results equal the exhaustive scorer " +
    "on every query shape, and on a skewed corpus the common term " +
    "is provably non-essential (its docs are never scored)") {
    // rare term in 2 docs (huge N/df ceiling), common filler term in
    // every doc (ceiling ~1·N/N): docs matching ONLY the filler can
    // never reach the rare-term docs' scores
    val root = Files.createTempDirectory("graft-maxscore").toString
    val docs = (Seq(
      (1L, "rare filler filler"),
      (2L, "rare rare filler"))
      ++ (3L to 40L).map(i => (i, "filler filler filler")))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "ms", nBuckets = 4)
    def exhaustive(ts: Seq[String], k: Int) =
      SegmentedIndex.search(spark, root, ts, k)
        .as[(Long, Double, Long)].collect().toSeq
    def pruned(ts: Seq[String], k: Int) =
      SegmentedIndex.maxScoreSearchWithPlan(spark, root, ts, k)
    // the pruning decision: filler drops out of the essential set
    val (out, essential, theta, _) = pruned(Seq("rare", "filler"), 2)
    assert(theta > 0.0)
    assert(essential == Seq("rare"),
      s"essential=$essential — filler must be non-essential")
    assert(out.as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 2))
    // no-threshold degradation (k > matching docs): all essential
    val (out2, ess2, _, _) = pruned(Seq("rare", "filler"), 100)
    assert(ess2.toSet == Set("rare", "filler"))
    assert(out2.as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 100))
    // absent terms fall back to the exhaustive path
    assert(pruned(Seq("zzz-missing"), 5)._1.count() == 0L)
    // tombstones: stats phases identical to search()
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(pruned(Seq("rare", "filler"), 3)._1
      .as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 3))
  }

  test("block-max impacts: on a block-skewed corpus the refinement " +
    "scores strictly fewer docs than the essential split alone — " +
    "results still exactly the exhaustive scorer's") {
    // 'bb' is essential (its phase-1 θ comes from its own hot block:
    // three tf-3 docs in block 0), so the TERM-level split keeps all
    // 500 bb docs as candidates; but every other bb block holds only
    // tf-1 docs whose block ceiling 1·(700/500)=1.4 sits far below
    // θ=4.2, and the aa blocks' ceiling 3.5 also misses it — the
    // BLOCK tier must cut the 500 candidates to the hot block's 3
    val root = Files.createTempDirectory("graft-bmw").toString
    val docs = (Seq(10L, 11L, 12L).map(i => (i, "bb bb bb"))
      ++ (200L to 399L).map(i => (i, "aa"))
      ++ (1000L to 1496L).map(i => (i, "bb")))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "bm", nBuckets = 4)
    val (out, essential, theta, scored) = SegmentedIndex
      .maxScoreSearchWithPlan(spark, root, Seq("aa", "bb"), 3)
    val exhaustive = SegmentedIndex
      .search(spark, root, Seq("aa", "bb"), 3)
      .as[(Long, Double, Long)].collect().toSeq
    assert(out.as[(Long, Double, Long)].collect().toSeq == exhaustive)
    assert(exhaustive.map(_._1) == Seq(10L, 11L, 12L))
    assert(theta > 0.0)
    assert(essential == Seq("bb"),
      s"essential=$essential — aa must be non-essential, bb essential")
    val n = scored()
    assert(n == 3L, s"block refinement scored $n docs — the 497 tf-1 " +
      "bb docs' blocks must all be skipped")
  }

  test("bm25MaxScoreTopK: the WAND-pruned production scorer equals " +
    "bm25TopK bitwise on every query shape, prunes the common term " +
    "on a skewed corpus, and the block tier cuts the scored set") {
    val root = Files.createTempDirectory("graft-bmws").toString
    // rare term (high idf ceiling) clustered in block 0; filler
    // everywhere with tf 1 outside the hot block
    val docs = (Seq(
      (1L, "rare filler filler"),
      (2L, "rare rare filler"),
      (3L, "rare filler pad"))
      ++ (200L to 700L).map(i => (i, "filler pad")))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "bm", nBuckets = 4)
    def exhaustive(ts: Seq[String], k: Int) =
      SegmentedIndex.bm25ExhaustiveTopK(spark, root, ts, k)
        .as[(Long, Double, Long)].collect().toSeq
    val (out, essential, theta, scored) = SegmentedIndex
      .bm25MaxScoreWithPlan(spark, root, Seq("rare", "filler"), 3)
    assert(out.as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 3),
      "pruned BM25 must equal the exhaustive scorer bitwise")
    assert(theta > 0.0)
    assert(essential == Seq("rare"),
      s"essential=$essential — filler must be non-essential")
    assert(scored() == 3L,
      "only the rare docs (one hot block) may reach the scorer")
    // no-threshold degradation: k > matches, everything essential
    val (out2, ess2, _, _) = SegmentedIndex
      .bm25MaxScoreWithPlan(spark, root, Seq("rare", "filler"), 1000)
    assert(ess2.toSet == Set("rare", "filler"))
    assert(out2.as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 1000))
    // absent terms: empty both ways
    assert(SegmentedIndex.bm25MaxScoreTopK(spark, root,
      Seq("zzz-missing"), 5).count() == 0)
    // tombstones flow through identically
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.bm25MaxScoreTopK(spark, root,
      Seq("rare", "filler"), 3)
      .as[(Long, Double, Long)].collect().toSeq ==
      exhaustive(Seq("rare", "filler"), 3))
  }

  test("bm25WandAudit: the pruned pair ranking certifies against " +
    "the exact integer key — every emitted row rank_agrees") {
    val root = Files.createTempDirectory("graft-bmwa").toString
    val d = Seq(
      (1L, "aa bb x"),
      (2L, "aa aa y y"),
      (3L, "bb z"),
      (4L, "aa bb bb"),
      (5L, "x y z")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val out = SegmentedIndex.bm25WandAudit(spark, root, k = 10)
      .as[(Long, String, String, Long, Long, Long, Long, Double,
        Boolean, Boolean)].collect().toSeq
    // dfs: aa=3, bb=3 (largest shared) → the pair is (aa, bb)
    assert(out.forall(r => r._2 == "aa" && r._3 == "bb"), out.toString)
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(out.forall(_._9), "rank_agrees must certify on every row")
    assert(out.forall(_._10), "score_in_bounds must certify")
    // the pruned audit order equals the production bm25TopK order
    assert(out.sortBy(_._7).map(_._1) ==
      SegmentedIndex.bm25TopK(spark, root, Seq("aa", "bb"), 10)
        .as[(Long, Double, Long)].collect().map(_._1).toSeq)
  }

  test("bm25TopK on a one-segment index equals the ad-hoc scorer " +
    "bitwise; a tombstone drops the doc but not the stats") {
    val corpus = Seq(
      (1L, "x x x pad"),
      (2L, "x pad pad pad"),
      (3L, "x x pad pad pad pad pad pad"),
      (4L, "pad only y"),
      (5L, "x pad pad pad"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-sxb").toString
    SegmentedIndex.append(spark, root, corpus, "a", nBuckets = 4)
    val got = SegmentedIndex.bm25TopK(spark, root, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    val want = Search.bm25(corpus, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == want, s"\ngot= $got\nwant=$want")
    // the default bm25TopK is now the PRUNED production path; its
    // exhaustive reference twin stays pinned to the ad-hoc scorer too
    assert(SegmentedIndex
      .bm25ExhaustiveTopK(spark, root, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq == want)
    // the rank audit scores the live postings with the production
    // BM25 expression on one frame: rows equal the ad-hoc audit's, and
    // the top-k selection is a TakeOrderedAndProject (no corpus-wide
    // rank window)
    val aud = SegmentedIndex.bm25RankAudit(spark, root, "x", k = 10)
    assert(aud
      .as[(Long, Long, Long, Long, Double, Boolean, Boolean)]
      .collect().toSeq ==
      Search.bm25RankAudit(corpus, "x", k = 10)
        .as[(Long, Long, Long, Long, Double, Boolean, Boolean)]
        .collect().toSeq)
    assert(aud.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // Lucene phase: deleting doc 2 removes it from the hits but the
    // remaining docs' scores DO NOT change (N, avg_dl, df all still
    // count it until merge)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    val after = SegmentedIndex.bm25TopK(spark, root, Seq("x", "y"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(after == want.filterNot(_._1 == 2L), s"\n$after\nvs\n$want")
  }

  test("stored fields: fetch returns live versions only and survives " +
    "merge; highlight runs query->fetch->snippet off the index") {
    val root = freshIndex()
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    SegmentedIndex.upsert(spark, root,
      Seq((3L, "y moved here")).toDF("doc_id", "text"), "u1")
    def got() = SegmentedIndex.fetch(spark, root, Seq(1L, 2L, 3L, 4L))
      .as[(Long, String)].collect().toSeq
    // doc 2 tombstoned, doc 3 serves its NEW text
    assert(got() == Seq((1L, "x x y"), (3L, "y moved here"),
      (4L, "w only")), got().toString)
    val hl = SegmentedIndex.highlight(spark, root, Seq("y"), k = 10,
        window = 1)
      .as[(Long, Long, Long, String)].collect().toSeq
    // window 1 → 3-token snippets: doc1 'x x y' clamps at the end
    // ('x [y]'), doc3's new text starts at its first token
    assert(hl == Seq((1L, 3L, 1L, "x [y]"),
      (3L, 1L, 1L, "[y] moved here")), hl.toString)
    // the postings scans never touch the hidden _stored subtree
    val p = SegmentedIndex.search(spark, root, Seq("y"), 10)
    p.collect()
    assert(!p.queryExecution.executedPlan.toString.contains("_stored"))
    SegmentedIndex.merge(spark, root)
    assert(got() == Seq((1L, "x x y"), (3L, "y moved here"),
      (4L, "w only")), "stored fields must fold through the merge")
  }

  test("facet: full-hit-set terms aggregation over stored metadata — " +
    "tombstoned docs drop immediately, an upserted doc counts under " +
    "its NEW field value, and the count survives merge") {
    val root = Files.createTempDirectory("graft-facet").toString
    val d1 = Seq(
      (1L, "x x y", "news"),
      (2L, "x z", "blog"),
      (3L, "y y z", "news"))
      .toDF("doc_id", "text", "cat")
    val d2 = Seq(
      (4L, "x w", "wiki"),
      (5L, "pad only", "news"))
      .toDF("doc_id", "text", "cat")
    SegmentedIndex.append(spark, root, d1, "a", nBuckets = 4)
    SegmentedIndex.append(spark, root, d2, "b")
    def got() = SegmentedIndex.facet(spark, root, Seq("x"), "cat", 10)
      .as[(String, Long)].collect().toSeq
    // docs matching 'x': 1 (news), 2 (blog), 4 (wiki); doc 5 matches
    // nothing — the aggregation runs over the HIT set only
    assert(got() == Seq(("blog", 1L), ("news", 1L), ("wiki", 1L)))
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(got() == Seq(("news", 1L), ("wiki", 1L)),
      "tombstoned doc must leave the aggregation immediately")
    // upsert moves doc 4 to a new category AND keeps it matching
    SegmentedIndex.upsert(spark, root,
      Seq((4L, "x moved", "news")).toDF("doc_id", "text", "cat"), "u1")
    assert(got() == Seq(("news", 2L)),
      "upserted doc must count under its new field value only")
    SegmentedIndex.merge(spark, root)
    assert(got() == Seq(("news", 2L)),
      "facet must survive the merge fold")
  }

  test("searchAt: a pinned generation is a frozen view — later " +
    "deletes/appends/merges invisible; pruned generations fail " +
    "loudly") {
    val root = Files.createTempDirectory("graft-pit").toString
    val d1 = Seq(
      (1L, "spark data"),
      (2L, "spark vector"),
      (3L, "data only")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d1, "a", nBuckets = 4)
    val g1 = SegmentedIndex.generations(root).last
    val q = Seq("spark", "vector")
    val frozen = SegmentedIndex.searchAt(spark, root, g1, q, 10)
      .collect().toSeq
    assert(frozen ==
      SegmentedIndex.search(spark, root, q, 10).collect().toSeq)
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    SegmentedIndex.append(spark, root,
      Seq((4L, "spark new")).toDF("doc_id", "text"), "b")
    val g3 = SegmentedIndex.generations(root).last
    // the pin still serves the ORIGINAL view bitwise
    assert(SegmentedIndex.searchAt(spark, root, g1, q, 10)
      .collect().toSeq == frozen,
      "the pinned generation must not see later mutations")
    assert(SegmentedIndex.searchAt(spark, root, g3, q, 10)
      .collect().toSeq ==
      SegmentedIndex.search(spark, root, q, 10).collect().toSeq)
    // a merge supersedes the manifest but retires nothing (vacuum is
    // age-thresholded) — the pre-merge pin keeps serving
    val preMerge = SegmentedIndex.searchAt(spark, root, g3, q, 10)
      .collect().toSeq
    SegmentedIndex.merge(spark, root)
    assert(SegmentedIndex.searchAt(spark, root, g3, q, 10)
      .collect().toSeq == preMerge)
    intercept[IllegalArgumentException] {
      SegmentedIndex.searchAt(spark, root, 999L, q, 10).collect()
    }
  }

  test("termVectors: per-doc term/tf/positions from the positional " +
    "postings — upsert serves the NEW version, tombstoned and " +
    "absent docs return empty") {
    val root = Files.createTempDirectory("graft-tv").toString
    val d = Seq(
      (1L, "a b a c a b"),
      (2L, "z z")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def tv(id: Long) = SegmentedIndex.termVectors(spark, root, id)
      .as[(String, Long, Seq[Long])].collect().toSeq
    assert(tv(1L) == Seq(("a", 3L, Seq(0L, 2L, 4L)),
      ("b", 2L, Seq(1L, 5L)), ("c", 1L, Seq(3L))))
    SegmentedIndex.upsert(spark, root,
      Seq((2L, "y z")).toDF("doc_id", "text"), "u1")
    assert(tv(2L) == Seq(("y", 1L, Seq(0L)), ("z", 1L, Seq(1L))),
      "an upserted doc's vectors must come from the NEW version only")
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    assert(tv(1L).isEmpty && tv(99L).isEmpty)
  }

  test("deleteByQuery: tombstones the live hit set in one commit — " +
    "prefix scope spares later docs, stats stay pre-merge, replay " +
    "is a no-op") {
    val root = Files.createTempDirectory("graft-dbq").toString
    val d = Seq(
      (1L, "spark x"),
      (2L, "join y"),
      (3L, "join spark"),
      (4L, "quiet")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.deleteByQuery(spark, root, Seq("join"), "dq1")
    val r = SegmentedIndex.search(spark, root, Seq("spark"), 10)
      .collect().toSeq
    assert(r.map(_.getLong(0)) == Seq(1L))
    // stats phase: N=4 and df(spark)=2 still count the deleted docs
    assert(r.head.getDouble(1) == 2.0)
    // a doc added AFTER the delete-by-query matches but survives
    SegmentedIndex.append(spark, root,
      Seq((5L, "join new")).toDF("doc_id", "text"), "b")
    def joinIds() = SegmentedIndex.search(spark, root, Seq("join"), 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(joinIds() == Seq(5L),
      "the prefix scope must spare documents added after the commit")
    SegmentedIndex.deleteByQuery(spark, root, Seq("join"), "dq1")
    assert(joinIds() == Seq(5L), "a batchKey replay must be a no-op")
  }

  test("termsEnum: prefix-ordered vocabulary walk with df — " +
    "tombstoned docs keep counting until merge (dictionary " +
    "semantics), the merge shifts them out") {
    val root = Files.createTempDirectory("graft-te").toString
    val d = Seq(
      (1L, "data x"),
      (2L, "data database"),
      (3L, "datum y")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex.termsEnum(spark, root, "dat", 10)
      .as[(String, Long)].collect().toSeq
    assert(got() == Seq(("data", 2L), ("database", 1L), ("datum", 1L)))
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(got() == Seq(("data", 2L), ("database", 1L), ("datum", 1L)),
      "the dictionary keeps tombstoned docs' terms until merge")
    SegmentedIndex.merge(spark, root)
    assert(got() == Seq(("data", 1L), ("datum", 1L)),
      "the merge must rewrite the dictionary")
    assert(SegmentedIndex.termsEnum(spark, root, "dat", 1)
      .as[(String, Long)].collect().toSeq == Seq(("data", 1L)))
  }

  test("family-wide stats aggregation over a rolled family equals the " +
    "combined single index — the rollover seam invisible to analytics") {
    val dir = Files.createTempDirectory("graft-famagg").toString
    val stem = dir + "/logs"
    val alias = dir + "/write-alias"
    SegmentedIndex.createIndex(stem + "-000001", nBuckets = 4)
    SegmentedIndex.setAlias(alias, stem + "-000001")
    val d = Seq(
      (1L, "x a", "news", 10L),
      (2L, "x b", "blog", 50L),
      (3L, "y c", "news", 30L),
      (4L, "x d", "news", 70L),
      (5L, "x e", "wiki", 90L))
      .toDF("doc_id", "text", "cat", "n")
    SegmentedIndex.append(spark,
      SegmentedIndex.resolveAlias(alias), d.filter(col("doc_id") <= 3),
      "a")
    assert(SegmentedIndex.rollover(alias, maxDocs = 3L))
    SegmentedIndex.append(spark,
      SegmentedIndex.resolveAlias(alias), d.filter(col("doc_id") > 3),
      "b")
    val all = Files.createTempDirectory("graft-famall").toString
    SegmentedIndex.append(spark, all, d, "a", nBuckets = 4)
    val q = Seq("x")
    assert(SegmentedIndex.familyStatsFacet(spark, alias, q, "n")
      .collect().toSeq ==
      SegmentedIndex.statsFacet(spark, all, q, "n").collect().toSeq)
    // a tombstone in ONE family member flows through the family agg
    SegmentedIndex.delete(spark, stem + "-000002",
      Seq(5L).toDF("doc_id"), "dz")
    assert(SegmentedIndex.familyStatsFacet(spark, alias, q, "n")
      .as[(Long, Long, Long, Long, Double)].collect().head ==
      ((3L, 10L, 70L, 130L, 130.0 / 3.0)))
  }

  test("moreLikeThis: the input doc's top tf·idf terms become the " +
    "query (min_doc_freq gates, the doc itself excluded), tombstones " +
    "drop hits, and the integer rank key orders like tf·N/df") {
    val root = Files.createTempDirectory("graft-mlt").toString
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta x"),
      (3L, "alpha y y"),
      (4L, "beta beta z"),
      (5L, "unrelated only")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    // doc 1's terms: alpha df3, beta df3, gamma df1 (gated by
    // min_doc_freq=2) → query {alpha, beta}; doc 2 matches both
    val r = SegmentedIndex.moreLikeThis(spark, root, 1L, k = 10,
      maxQueryTerms = 5, minDocFreq = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(2L, 4L, 3L), r.toString)
    assert(!r.exists(_._1 == 1L), "the input doc must be excluded")
    assert(r.head._3 == 2L, "doc 2 must match both query terms")
    // integer key orders like the rational: doc4 (beta tf2) beats
    // doc3 (alpha tf1) because the weights are equal (df 3 == 3)
    assert(r(1)._1 == 4L && r(1)._2 > r(2)._2)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.moreLikeThis(spark, root, 1L, k = 10)
      .as[(Long, Long, Long)].collect().map(_._1).toSeq ==
      Seq(4L, 3L), "the tombstoned doc must leave the hits")
    // a doc whose every term misses the df gate suggests nothing
    assert(SegmentedIndex.moreLikeThis(spark, root, 5L, k = 10,
      minDocFreq = 2L).count() == 0)
  }

  test("termSuggest: dictionary suggestions within the AUTO edit " +
    "allowance, ranked (dist, df desc, term); the input itself " +
    "ranks first when present") {
    val root = Files.createTempDirectory("graft-sug").toString
    val d = Seq(
      (1L, "vector vectra victor"),
      (2L, "vector math"),
      (3L, "victory lap")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val r = SegmentedIndex.termSuggest(spark, root, "vectro", k = 5)
      .as[(String, Long, Long)].collect().toSeq
    // vectra is ONE substitution away; vector needs two (the r/o
    // swap — plain levenshtein has no transposition op); victor is
    // three and must be excluded by the allowance
    assert(r == Seq(("vectra", 1L, 1L), ("vector", 2L, 2L)),
      r.toString)
    // an exact dictionary hit ranks first at distance 0
    val r2 = SegmentedIndex.termSuggest(spark, root, "vector", k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(r2.head == (("vector", 0L, 2L)), r2.toString)
  }

  test("phraseSuggest: real-word whole-phrase corrections beat the " +
    "input's LM score, max_errors caps changed positions, the " +
    "identity never returns, an all-valid input yields nothing, " +
    "length bound rejects") {
    val root = Files.createTempDirectory("graft-phs").toString
    val d = Seq(
      (1L, "spark join"),
      (2L, "spark joins"),
      (3L, "spark data"),
      (4L, "data join")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    // N=4, V={spark, join, joins, data}=4 → denom 8; dfs: spark 3,
    // join 2, joins 1, data 2. Input score s0 = (0+1)/8 · (2+1)/8
    // = 3/64. With maxErrors=1: 'spark join' = (4/8)(3/8) = 0.1875
    // beats s0; 'spqrk joins' = (1/8)(2/8) = 2/64 does NOT (a
    // correction must make the phrase MORE probable, not just be a
    // valid word); 'spark joins' changes 2 positions — capped
    val r = SegmentedIndex.phraseSuggest(spark, root, "spqrk join",
        k = 5)
      .as[(String, Double, Long)].collect().toSeq
    assert(r == Seq(("spark join", 0.1875, 1L)), r.toString)
    // max_errors 2 admits the double correction, ranked below
    val r2 = SegmentedIndex.phraseSuggest(spark, root, "spqrk join",
        k = 5, maxErrors = 2)
      .as[(String, Double, Long)].collect().toSeq
    assert(r2 == Seq(("spark join", 0.1875, 1L),
      ("spark joins", 0.125, 2L)), r2.toString)
    // an already-probable input returns NOTHING at confidence 1.0:
    // no candidate beats it and the identity is never suggested
    assert(SegmentedIndex.phraseSuggest(spark, root, "spark join",
      k = 5).count() == 0)
    // lowering confidence re-admits real-word alternatives below
    // the input's own score
    val r3 = SegmentedIndex.phraseSuggest(spark, root, "spark join",
        k = 5, confidence = 0.5)
      .as[(String, Double, Long)].collect().toSeq
    assert(r3 == Seq(("spark joins", 0.125, 1L)), r3.toString)
    // the phrase-length bound and parameter floors fail loudly
    intercept[IllegalArgumentException](SegmentedIndex.phraseSuggest(
      spark, root, "a b c d e f", k = 5))
    intercept[IllegalArgumentException](SegmentedIndex.phraseSuggest(
      spark, root, "spqrk join", k = 5, maxPerPos = 0))
  }

  test("completionSuggest: weight-ordered prefix completion deduped " +
    "across segments, first-char dir pruning, dictionary-phase " +
    "tombstones, merge recomputes, pre-completion layout falls back") {
    val root = Files.createTempDirectory("graft-comp").toString
    val d = Seq(
      (1L, "spark spark sql"),
      (2L, "spark stream"),
      (3L, "sort key")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root,
      d.filter(col("doc_id") < 3), "a", nBuckets = 4)
    SegmentedIndex.append(spark, root,
      d.filter(col("doc_id") === 3), "b")
    def sug() = SegmentedIndex
      .completionSuggest(spark, root, "s", k = 10)
    // weight = df ACROSS segments (spark appears in 2 docs — the
    // duplicate output dedups to one row with the summed weight);
    // tf never inflates it (doc 1 has spark twice)
    val r = sug()
    assert(r.as[(String, Long)].collect().toSeq == Seq(
      ("spark", 2L), ("sort", 1L), ("sql", 1L), ("stream", 1L)),
      r.collect().toSeq.toString)
    // PLANNING-time dir pruning: the pb predicate lands in the scan's
    // PartitionFilters (inputFiles lists the unpruned relation, so
    // the executed plan is the honest witness)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pb"), plan)
    // a longer prefix narrows inside the same partition
    assert(SegmentedIndex.completionSuggest(spark, root, "sp", 10)
      .as[(String, Long)].collect().toSeq == Seq(("spark", 2L)))
    // dictionary phase: a tombstone does NOT move weights...
    SegmentedIndex.delete(spark, root,
      Seq(2L).toDF("doc_id"), "d1")
    assert(sug().as[(String, Long)].collect().toSeq == Seq(
      ("spark", 2L), ("sort", 1L), ("sql", 1L), ("stream", 1L)),
      "suggester stats are pre-merge (ES's documented caveat)")
    // MIXED layout (partial upgrade): stripping ONE segment's
    // `_complete/` degrades only THAT segment to its `_dict` — the
    // fallback is per-segment, results identical
    val firstSeg = Option(new java.io.File(root).listFiles()).toSeq
      .flatten.filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .minBy(_.getName)
    graft.engine.Bucketing.deleteTree(
      new java.io.File(firstSeg, "_complete"))
    assert(sug().as[(String, Long)].collect().toSeq == Seq(
      ("spark", 2L), ("sort", 1L), ("sql", 1L), ("stream", 1L)),
      "a mixed layout must serve per-segment, not all-or-nothing")
    // ...until merge recomputes: doc 2's stream drops, spark df 1
    SegmentedIndex.merge(spark, root)
    assert(sug().as[(String, Long)].collect().toSeq == Seq(
      ("sort", 1L), ("spark", 1L), ("sql", 1L)))
    // pre-completion layout (older segments): the dictionary serves
    // identically
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .foreach(sg => graft.engine.Bucketing.deleteTree(
        new java.io.File(sg, "_complete")))
    assert(sug().as[(String, Long)].collect().toSeq == Seq(
      ("sort", 1L), ("spark", 1L), ("sql", 1L)),
      "the _dict fallback must serve the same completions")
    // a SUPPLEMENTARY-char prefix: the pb partition value is one
    // CODE POINT (Spark substring), so the driver-side first-char
    // extraction must be code-point-aware — a UTF-16-unit take(1)
    // would hand a lone surrogate and match no partition
    val uroot = Files.createTempDirectory("graft-compu").toString
    SegmentedIndex.append(spark, uroot,
      Seq((1L, "𝕏ray plain")).toDF("doc_id", "text"),
      "a", nBuckets = 4)
    assert(SegmentedIndex
      .completionSuggest(spark, uroot, "𝕏r", k = 5)
      .as[(String, Long)].collect().toSeq ==
      Seq(("𝕏ray", 1L)))
  }

  test("multiQuerySearch: each batched query equals its standalone " +
    "search (sorted-term pivot), tombstones flow through, empty and " +
    "all-stopword queries return no rows") {
    val root = Files.createTempDirectory("graft-ms").toString
    val d = Seq(
      (1L, "x x y pad"),
      (2L, "y z pad"),
      (3L, "x z z pad"),
      (4L, "pad pad")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root, Seq(3L).toDF("doc_id"), "d1")
    val ms = SegmentedIndex.multiQuerySearch(spark, root,
      Seq("q1" -> Seq("x", "y"), "q2" -> Seq("z"),
        "q3" -> Seq("absent-term")), k = 10)
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    // per query, the batch answers == the standalone search (terms
    // passed SORTED so both pivots share the same addition order)
    for ((qid, ts) <- Seq("q1" -> Seq("x", "y"), "q2" -> Seq("z"))) {
      val solo = SegmentedIndex.search(spark, root, ts.sorted, 10)
        .as[(Long, Double, Long)].collect().toSeq
      val batch = ms.filter(_._1 == qid)
        .sortBy(_._5).map(t => (t._2, t._3, t._4))
      assert(batch == solo, s"$qid:\nbatch=$batch\nsolo= $solo")
    }
    // the tombstoned doc 3 is in no query's hits; df still counts it
    assert(!ms.exists(_._2 == 3L))
    // a query with no indexed terms returns no rows (ES empty hits)
    assert(!ms.exists(_._1 == "q3"))
    // an all-miss batch returns an empty frame with the full schema
    val none = SegmentedIndex.multiQuerySearch(spark, root,
      Seq("q" -> Seq("nothing-here")), k = 5)
    assert(none.count() == 0 && none.columns.toSeq ==
      Seq("query_id", "doc_id", "score", "n_terms_hit", "rank"))
    // duplicate query ids are rejected
    intercept[IllegalArgumentException](SegmentedIndex
      .multiQuerySearch(spark, root,
        Seq("a" -> Seq("x"), "a" -> Seq("y")), 5))
    // CHUNKED pivot: a cap of 1 splits this batch into per-term
    // chunks (its union vocabulary of 3 terms far exceeds the cap —
    // the unchunked pivot could not respect it), and the results are
    // BIT-IDENTICAL to the uncapped run: per query the matched terms
    // keep their sorted relative order in any chunk's pivot, and the
    // dictionary-served dfs phase is shared by all chunks
    val batch = Seq("q1" -> Seq("x", "y"), "q2" -> Seq("z"),
      "q4" -> Seq("y", "z"))
    val wide = SegmentedIndex.multiQuerySearch(spark, root, batch,
        k = 10)
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    val tight = SegmentedIndex.multiQuerySearch(spark, root, batch,
        k = 10, pivotVocabCap = 1)
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    assert(tight == wide, s"tight=$tight\nwide= $wide")
    intercept[IllegalArgumentException](SegmentedIndex
      .multiQuerySearch(spark, root, batch, 5, pivotVocabCap = 0))
  }

  test("multiTermVectors + countQuery: the batch read equals per-id " +
    "reads and excludes tombstones; _count is the live distinct-hit " +
    "cardinality with query-side analysis") {
    val root = Files.createTempDirectory("graft-mtv").toString
    val d = Seq(
      (1L, "x y"),
      (2L, "x z"),
      (3L, "y y")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    val batch = SegmentedIndex
      .multiTermVectors(spark, root, Seq(1L, 2L, 3L))
      .as[(Long, String, Long, Seq[Long])].collect().toSeq
    assert(!batch.exists(_._1 == 2L), "tombstoned doc must not appear")
    for (id <- Seq(1L, 3L)) {
      val solo = SegmentedIndex.termVectors(spark, root, id)
        .as[(String, Long, Seq[Long])].collect().toSeq
      assert(batch.filter(_._1 == id).map(t => (t._2, t._3, t._4))
        == solo, s"id=$id")
    }
    // x lives only in doc 1 now (doc 2 tombstoned); y in 1 and 3
    assert(SegmentedIndex.countQuery(spark, root, Seq("x", "y"))
      .as[Long].collect().toSeq == Seq(2L))
    assert(SegmentedIndex.countQuery(spark, root, Seq("z"))
      .as[Long].collect().toSeq == Seq(0L),
      "the only z-doc is tombstoned")
    assert(SegmentedIndex.countQuery(spark, root, Seq("absent"))
      .as[Long].collect().toSeq == Seq(0L))
    // an all-stopword query analyzes to nothing → 0 (english chain)
    val en = Files.createTempDirectory("graft-mtv-en").toString
    SegmentedIndex.append(spark, en, d, "a", nBuckets = 4,
      analyzer = "english")
    assert(SegmentedIndex.countQuery(spark, en, Seq("the", "a"))
      .as[Long].collect().toSeq == Seq(0L))
  }

  test("rescoreSearch: only the window re-sorts; the tail stays " +
    "strictly below even when its boost would beat the window; " +
    "missing field boosts by 1") {
    val root = Files.createTempDirectory("graft-resc").toString
    val d = Seq(
      (1L, "x x x", "m1", 100L),   // 1st pass rank 1
      (2L, "x x pad", "m2", 2L),   // rank 2
      (3L, "x pad pad", "m3", 999L)) // rank 3 — OUTSIDE window of 2
      .toDF("doc_id", "text", "m", "w")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val r = SegmentedIndex.rescoreSearch(spark, root, Seq("x"), "w",
        windowSize = 2, k = 3)
      .as[(Long, Double, Boolean)].collect().toSeq
    // docs 1,2 rescored (window), doc 3 tail; doc 3's huge w=999
    // must NOT let it outrank the window
    assert(r.map(_._1) == Seq(1L, 2L, 3L), r.toString)
    assert(r.map(_._3) == Seq(true, true, false))
    // the window re-sorts internally: with rescoreWeight dominant
    // and doc 2's tiny boost, doc 1 (s·100) stays over doc 2 (s·2);
    // invert the field to flip them
    val d2 = Seq(
      (1L, "x x x", "m1", 1L),
      (2L, "x x pad", "m2", 1000L),
      (3L, "x pad pad", "m3", 1L)).toDF("doc_id", "text", "m", "w")
    val root2 = Files.createTempDirectory("graft-resc2").toString
    SegmentedIndex.append(spark, root2, d2, "a", nBuckets = 4)
    val r2 = SegmentedIndex.rescoreSearch(spark, root2, Seq("x"), "w",
        windowSize = 2, k = 3)
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(r2.map(_._1) == Seq(2L, 1L, 3L),
      s"the boosted doc 2 must overtake INSIDE the window: $r2")
    // a doc missing the field boosts by exactly 1 (qw·s + rw·s·1)
    val d3 = Seq(
      (1L, "x x", "m", Some(5L)),
      (2L, "x x", "m", None)).toDF("doc_id", "text", "m", "w")
    val root3 = Files.createTempDirectory("graft-resc3").toString
    SegmentedIndex.append(spark, root3, d3, "a", nBuckets = 4)
    val r3 = SegmentedIndex.rescoreSearch(spark, root3, Seq("x"), "w",
        windowSize = 2, k = 2)
      .as[(Long, Double, Boolean)].collect().toSeq
    val s0 = 2.0 * (2.0 / 2.0) // tf=2 · N/df = 2
    assert(r3 == Seq((1L, s0 + s0 * 5.0, true),
      (2L, s0 + s0 * 1.0, true)), r3.toString)
  }

  test("rescoreChain: phases narrow in sequence, each re-sorts only " +
    "its own window, a phase-1 leftover can never climb past the " +
    "phase-2 window, widening windows reject, 1 phase == " +
    "rescoreSearch") {
    val root = Files.createTempDirectory("graft-rchain").toString
    // whitespace chain, df(x)=4, N=4 → first-pass score = tf
    val d = Seq(
      (1L, "x x x x", 1.0, 7.0),
      (2L, "x x x pad", 10.0, 0.001),
      (3L, "x x pad pad", 2.0, 7.0),
      (4L, "x pad pad pad", 999.0, 7.0))
      .toDF("doc_id", "text", "w1", "w2")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    // phase 1 (window 3, score ← score·w1): doc2 30, doc1 4, doc3 4;
    // doc4 never enters (window₁ cut by FIRST-pass order — its huge
    // w1 is unreachable). phase 2 (window 1, score ← score·w2):
    // only doc2 re-scores, to 0.03 — and STAYS on top: phase layers
    // never compare scores across phases
    val r = SegmentedIndex.rescoreChain(spark, root, Seq("x"),
        phases = Seq(("w1", 3, 0.0, 1.0), ("w2", 1, 0.0, 1.0)),
        k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(r == Seq(
      (2L, 30.0 * 0.001, 2L),
      (1L, 4.0, 1L), (3L, 4.0, 1L),
      (4L, 1.0, 0L)), r.toString)
    // widening windows are rejected (ES's sequential contract)
    intercept[IllegalArgumentException](SegmentedIndex.rescoreChain(
      spark, root, Seq("x"),
      phases = Seq(("w1", 2, 1.0, 1.0), ("w2", 3, 1.0, 1.0)), k = 5))
    // the 1-phase chain IS rescoreSearch (modulo the rescored flag)
    val viaChain = SegmentedIndex.rescoreChain(spark, root, Seq("x"),
        phases = Seq(("w1", 2, 1.0, 0.5)), k = 4)
      .as[(Long, Double, Long)].collect().toSeq
    val viaSearch = SegmentedIndex.rescoreSearch(spark, root,
        Seq("x"), "w1", windowSize = 2, k = 4, queryWeight = 1.0,
        rescoreWeight = 0.5)
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(viaChain.map(t => (t._1, t._2, t._3 > 0L)) == viaSearch,
      s"chain=$viaChain\nsearch=$viaSearch")
  }

  test("indexStats: manifest-only counters plus the victim-set " +
    "deleted count; merge folds the panels") {
    val root = Files.createTempDirectory("graft-stats").toString
    val d = Seq(
      (1L, "a b"), (2L, "c d e"), (3L, "f")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root,
      d.filter(col("doc_id") < 3), "a", nBuckets = 4)
    SegmentedIndex.append(spark, root,
      d.filter(col("doc_id") === 3), "b")
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    def st() = SegmentedIndex.indexStats(spark, root)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(st() == ((2L, 1L, 3L, 1L, 2L, 6L)), st().toString)
    // merge applies tombstones and recomputes: one segment, no del
    // batches, stats drop the deleted doc
    SegmentedIndex.merge(spark, root)
    assert(st() == ((1L, 0L, 2L, 0L, 2L, 3L)), st().toString)
    // never-indexed victims inflate n_deleted (documented caveat);
    // n_live clamps at 0 instead of going negative
    val root2 = Files.createTempDirectory("graft-stats2").toString
    SegmentedIndex.append(spark, root2,
      Seq((1L, "a")).toDF("doc_id", "text"), "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root2,
      Seq(1L, 2L, 3L).toDF("doc_id"), "d1")
    val s2 = SegmentedIndex.indexStats(spark, root2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(s2 == ((1L, 1L, 1L, 3L, 0L, 1L)), s2.toString)
  }

  test("completionFieldSuggest: doc-supplied inputs and weights — " +
    "max-weight dedup, live docs only, chain-normalized inputs, " +
    "missing fields drop") {
    val root = Files.createTempDirectory("graft-compf").toString
    val d = Seq(
      (1L, "t", "Alpha", 10L),
      (2L, "t", "alpha", 40L),
      (3L, "t", "alps", 25L),
      (4L, "t", "beta", 99L),
      (5L, "t", null.asInstanceOf[String], 7L))
      .toDF("doc_id", "text", "sug", "w")
    // english chain: inputs lowercase (ES completion's simple
    // analyzer), so Alpha and alpha are ONE output at max weight
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4,
      analyzer = "english")
    def r() = SegmentedIndex.completionFieldSuggest(spark, root,
      "sug", "w", prefix = "al", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(r() == Seq(("alpha", 40L), ("alps", 25L)), r().toString)
    // live-docs semantics: tombstoning the max-weight doc DOES move
    // the weight (stored doc-values read — unlike the vocabulary
    // suggester's dictionary phase)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(r() == Seq(("alps", 25L), ("alpha", 10L)), r().toString)
    // whitespace chain preserves case: no fold, prefix is exact
    val root2 = Files.createTempDirectory("graft-compf2").toString
    SegmentedIndex.append(spark, root2, d, "a", nBuckets = 4)
    assert(SegmentedIndex.completionFieldSuggest(spark, root2,
      "sug", "w", prefix = "Al", k = 10)
      .as[(String, Long)].collect().toSeq == Seq(("Alpha", 10L)))
  }

  test("completionFieldSuggest MAPPED: the materialized _cfield " +
    "artifact serves with planning-time pb pruning and NO stored " +
    "scan; live-only semantics survive, merge regenerates, mixed " +
    "layouts fall back per segment, sparse batches and unicode hold") {
    val root = Files.createTempDirectory("graft-cfm").toString
    val d1 = Seq(
      (1L, "t", "Alpha", 10L),
      (2L, "t", "alpha", 40L),
      (3L, "t", "alps", 25L)).toDF("doc_id", "text", "sug", "w")
    val d2 = Seq(
      (4L, "t", "beta", 99L),
      (5L, "t", "alpine", 33L),
      (6L, "t", null.asInstanceOf[String], 7L))
      .toDF("doc_id", "text", "sug", "w")
    // the cf= mapping binds on first commit; the second append
    // inherits it (existing index wins — ES mapping immutability)
    SegmentedIndex.append(spark, root, d1, "a", nBuckets = 4,
      analyzer = "english", completionField = Some(("sug", "w")))
    SegmentedIndex.append(spark, root, d2, "b")
    assert(SegmentedIndex.completionFieldOf(root)
      .contains(("sug", "w")))
    def r() = SegmentedIndex.completionFieldSuggest(spark, root,
      "sug", "w", prefix = "al", k = 10)
    assert(r().as[(String, Long)].collect().toSeq ==
      Seq(("alpha", 40L), ("alpine", 33L), ("alps", 25L)))
    // the serving plan prunes to ONE pb directory per segment at
    // PLANNING time and the stored fields never enter the plan —
    // the 100 TB per-keystroke shape (vs the pre-artifact corpus
    // column scan)
    val plan = r().queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pb"), plan)
    assert(!plan.contains("_stored"), plan)
    // LIVE-ONLY semantics survive materialization: the artifact
    // carries doc_id, so the candidate-sized pruned slice anti-joins
    // tombstones — tombstoning the max-weight doc moves the weight
    // IMMEDIATELY (stricter than ES's FST, which serves deleted
    // docs' inputs until merge; writeCField's scaladoc argues why)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    val afterDel =
      Seq(("alpine", 33L), ("alps", 25L), ("alpha", 10L))
    assert(r().as[(String, Long)].collect().toSeq == afterDel)
    // MIXED layout (partial upgrade): strip ONE segment's artifact —
    // that segment alone degrades to its column-pruned stored scan,
    // results identical (per-segment fallback, not all-or-nothing)
    val segDirs = Option(new java.io.File(root).listFiles()).toSeq
      .flatten
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
    graft.engine.Bucketing.deleteTree(
      new java.io.File(segDirs.minBy(_.getName), "_cfield"))
    assert(r().as[(String, Long)].collect().toSeq == afterDel)
    // merge REGENERATES the artifact from the SURVIVING stored
    // fields: the deleted doc's input physically leaves, every
    // post-merge segment serves from _cfield again
    SegmentedIndex.merge(spark, root)
    assert(r().as[(String, Long)].collect().toSeq == afterDel)
    assert(!r().queryExecution.executedPlan.toString
      .contains("_stored"))
    // a SPARSE batch (mapped columns absent) writes an EMPTY
    // artifact — uniform layout, serving unaffected (the explicit
    // read schema keeps parquet inference out of it)
    SegmentedIndex.append(spark, root,
      Seq((7L, "t")).toDF("doc_id", "text"), "c")
    assert(r().as[(String, Long)].collect().toSeq == afterDel)
    // the mapping travels: snapshot and reindex carry the cf header
    // and the reindexed artifact serves pruned
    val snap = Files.createTempDirectory("graft-cfsnap").toString
    SegmentedIndex.snapshot(root, snap)
    assert(SegmentedIndex.completionFieldOf(snap)
      .contains(("sug", "w")))
    val rx = Files.createTempDirectory("graft-cfrx").toString
    SegmentedIndex.reindex(spark, root, rx, nBuckets = 4)
    assert(SegmentedIndex.completionFieldOf(rx)
      .contains(("sug", "w")))
    assert(SegmentedIndex.completionFieldSuggest(spark, rx,
      "sug", "w", "al", 10).as[(String, Long)].collect().toSeq ==
      afterDel)
    // UNICODE input: the pb key is the first CODE POINT's UTF-8 hex
    // on both mirrors (a UTF-16-unit key would strand the
    // supplementary char in an unreachable partition)
    val uroot = Files.createTempDirectory("graft-cfu").toString
    SegmentedIndex.append(spark, uroot,
      Seq((1L, "t", "𝕏ray", 5L)).toDF("doc_id", "text", "sug", "w"),
      "a", nBuckets = 4, completionField = Some(("sug", "w")))
    assert(SegmentedIndex.completionFieldSuggest(spark, uroot,
      "sug", "w", "𝕏r", 5).as[(String, Long)].collect().toSeq ==
      Seq(("𝕏ray", 5L)))
  }

  test("histogramPipelineFacet + statsBucket: cumulative sum, " +
    "null-first derivative, exact trailing moving average over the " +
    "gap-filled series; the selector prunes AFTER the pipelines; " +
    "bucket_sort keeps top-N") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val d = Seq(
      (1L, "x pad", 0L),
      (2L, "x pad", 5L),
      (3L, "x pad", 10L),
      (4L, "x pad", 30L)).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    // buckets (interval 10): 0→2, 10→1, 20→0 (gap-filled), 30→1
    val r = SegmentedIndex.histogramPipelineFacet(spark, root,
        Seq("x"), "n", interval = 10L, movingWindow = 3)
      .as[(Long, Long, Long, Option[Long], Double)].collect().toSeq
    assert(r == Seq(
      (0L, 2L, 2L, None, 2.0),
      (10L, 1L, 3L, Some(-1L), 1.5),
      (20L, 0L, 3L, Some(-1L), 1.0),
      (30L, 1L, 4L, Some(1L), 2.0 / 3.0)), r.toString)
    // bucket_selector drops the empty bucket AFTER the pipelines:
    // bucket 30's derivative still reads +1 against the REMOVED
    // zero bucket (ES's reduce order — the series, then the filter)
    val sel = SegmentedIndex.histogramPipelineFacet(spark, root,
        Seq("x"), "n", interval = 10L, movingWindow = 3,
        minDocCount = 1L)
      .as[(Long, Long, Long, Option[Long], Double)].collect().toSeq
    assert(sel.map(_._1) == Seq(0L, 10L, 30L), sel.toString)
    assert(sel.last == ((30L, 1L, 4L, Some(1L), 2.0 / 3.0)),
      sel.toString)
    // bucket_sort: top 2 by (doc_count desc, bucket)
    val top = SegmentedIndex.histogramPipelineFacet(spark, root,
        Seq("x"), "n", interval = 10L, movingWindow = 3,
        topBuckets = Some(2))
      .as[(Long, Long, Long, Option[Long], Double)].collect().toSeq
    assert(top.map(_._1) == Seq(0L, 10L), top.toString)
    // the sibling stats_bucket over the same series
    val sb = SegmentedIndex.statsBucket(spark, root, Seq("x"), "n",
        interval = 10L)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(sb == ((4L, 0L, 2L, 4L, 1.0)), sb.toString)
  }

  test("filtersFacet / adjacencyMatrix / percentileRanksFacet / " +
    "existsQuery: keyed buckets zero-fill, the matrix emits only " +
    "non-empty cells, ranks are exact at-or-below percents, exists " +
    "is live null-filtering") {
    val root = Files.createTempDirectory("graft-fadj").toString
    val d = Seq(
      (1L, "x y", 5L, Some("a")),
      (2L, "x z", 7L, Some("q")),
      (3L, "y z", 20L, None),
      (4L, "w pad", 9L, Some("b")))
      .toDF("doc_id", "text", "n", "m")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    // filters: live x → {1}; y/z → {1, 3}; the all-miss bucket
    // still appears at 0 (ES's keyed shape)
    assert(SegmentedIndex.filtersFacet(spark, root,
      Seq("a" -> Seq("x"), "b" -> Seq("y", "z"),
        "c" -> Seq("absent")))
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 0L)))
    // adjacency matrix: singles px{1} py{1,3} pz{3}; intersections
    // px&py (doc 1) and py&pz (doc 3); px&pz is EMPTY and omitted
    assert(SegmentedIndex.adjacencyMatrix(spark, root,
      Seq("px" -> Seq("x"), "py" -> Seq("y"), "pz" -> Seq("z")))
      .as[(String, Long)].collect().toSeq ==
      Seq(("px", 1L), ("px&py", 1L), ("py", 2L), ("py&pz", 1L),
        ("pz", 1L)))
    intercept[IllegalArgumentException](SegmentedIndex
      .adjacencyMatrix(spark, root, Seq("a&b" -> Seq("x"))))
    // percentile ranks over live hits {1, 3} (n = 5, 20): at-or-
    // below 4 → 0%, 5 → 50%, 25 → 100%; requested values always
    // appear
    assert(SegmentedIndex.percentileRanksFacet(spark, root,
      Seq("x", "y", "z"), "n", Seq(4L, 5L, 25L))
      .as[(Long, Double)].collect().toSeq ==
      Seq((4L, 0.0), (5L, 50.0), (25L, 100.0)))
    // exists: docs with a non-null m, live only (doc 2 has m but is
    // tombstoned; doc 3's null drops)
    assert(SegmentedIndex.existsQuery(spark, root, "m", 10)
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (4L, 1.0)))
  }

  test("sloppyPhraseSearch: |q-p-1| move arithmetic (gap costs its " +
    "size, transposition costs 2), slop 0 is the adjacent phrase, " +
    "tombstones drop, repeated/multi-token slots reject; " +
    "namedQueriesSearch reports sorted matched clause names") {
    val root = Files.createTempDirectory("graft-slop").toString
    val d = Seq(
      (1L, "u v pad"),
      (2L, "u pad v"),
      (3L, "v u pad"),
      (4L, "u pad pad pad pad v"),
      (5L, "pad v x")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    // doc1 adjacent (0 moves); doc3 transposed adjacent (2 — ES's
    // documented cost); doc4 gap of 4; doc2's 1-move match is dead
    assert(SegmentedIndex.sloppyPhraseSearch(spark, root, "u", "v",
      slop = 2, k = 10).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (3L, 2L)))
    assert(SegmentedIndex.sloppyPhraseSearch(spark, root, "u", "v",
      slop = 0, k = 10).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L)))
    intercept[IllegalArgumentException](SegmentedIndex
      .sloppyPhraseSearch(spark, root, "u", "u", 1, 10))
    intercept[IllegalArgumentException](SegmentedIndex
      .sloppyPhraseSearch(spark, root, "u v", "x", 1, 10))
    // named queries: docs matching any clause return with the SORTED
    // joined names of the clauses they matched
    assert(SegmentedIndex.namedQueriesSearch(spark, root,
      Seq("n1" -> Seq("u"), "n2" -> Seq("v")), k = 10)
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "n1,n2"), (3L, "n1,n2"), (4L, "n1,n2"),
        (5L, "n2")))
  }

  test("decayScoreSearch (linear) + multiSearchBoosted: the decay " +
    "multiplier is exact arithmetic with missing-field = 1 and a " +
    "zero floor; index boosts re-rank the federation before top-k") {
    val root = Files.createTempDirectory("graft-decay").toString
    val d = Seq(
      (1L, "y pad", Some(10L)),
      (2L, "y pad", Some(14L)),
      (3L, "y pad", Some(30L)),
      (4L, "y pad", None)).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    // df(y)=4, N=4 → base score 1.0 each; λ = 4/(1−0.5) = 8:
    // n=10 → 1.0, n=14 → (8−4)/8 = 0.5, n=30 → floored 0, missing →
    // 1.0 (ES skips docs without the field)
    val r = SegmentedIndex.decayScoreSearch(spark, root, Seq("y"),
        "n", origin = 10L, scale = 4L, k = 10)
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(r == Seq(
      (1L, 1.0, 1.0, 1L), (4L, 1.0, 1.0, 1L),
      (2L, 0.5, 0.5, 1L), (3L, 0.0, 0.0, 1L)), r.toString)
    // boosted federation: idxB's boost 3 flips the unboosted order
    val ra = Files.createTempDirectory("graft-boostA").toString
    val rb = Files.createTempDirectory("graft-boostB").toString
    SegmentedIndex.append(spark, ra,
      Seq((1L, "z z")).toDF("doc_id", "text"), "a", nBuckets = 4)
    SegmentedIndex.append(spark, rb,
      Seq((2L, "z pad")).toDF("doc_id", "text"), "a", nBuckets = 4)
    // global stats: N=2, df(z)=2 → doc1 = 2·(2/2) = 2.0, doc2 = 1.0
    val boosted = SegmentedIndex.multiSearchBoosted(spark,
        Seq(("a", ra, 1.0), ("b", rb, 3.0)), Seq("z"), k = 10)
      .as[(String, Long, Double, Long)].collect().toSeq
    assert(boosted == Seq(("b", 2L, 3.0, 1L), ("a", 1L, 2.0, 1L)),
      boosted.toString)
    intercept[IllegalArgumentException](SegmentedIndex
      .multiSearchBoosted(spark, Seq(("a", ra, 0.0)), Seq("z"), 5))
  }

  test("termsSetQuery / disMaxSearch / spanFirstSearch / fieldCaps: " +
    "minimum-should-match gating, best-clause-plus-tiebreaker " +
    "scoring, first-position bounds with tombstones, sparse-schema " +
    "introspection") {
    val root = Files.createTempDirectory("graft-tsq").toString
    SegmentedIndex.append(spark, root,
      Seq((1L, "p q r", 5L)).toDF("doc_id", "text", "n"), "a",
      nBuckets = 4)
    SegmentedIndex.append(spark, root,
      Seq((2L, "p q pad"), (3L, "p pad pad")).toDF("doc_id", "text"),
      "b")
    // N=3, df(p)=3 df(q)=2 df(r)=1: doc1 matches 3 terms
    // (1 + 1.5 + 3), doc2 two (1 + 1.5), doc3 only one — gated out
    assert(SegmentedIndex.termsSetQuery(spark, root,
      Seq("p", "q", "r"), minMatch = 2, k = 10)
      .as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 5.5, 3L), (2L, 2.5, 2L)))
    // dis_max: clause r scores doc1 at 3.0, clause p scores all at
    // 1.0 → doc1 = best 3.0 + 0.5·(4.0 − 3.0); single-clause docs
    // keep their clause score
    assert(SegmentedIndex.disMaxSearch(spark, root,
      Seq(Seq("r"), Seq("p")), tieBreaker = 0.5, k = 10)
      .as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 3.5, 2L), (2L, 1.0, 1L), (3L, 1.0, 1L)))
    // span_first: p sits at position 0 everywhere (strictly below
    // 1); q at position 1 fails end=1
    assert(SegmentedIndex.spanFirstSearch(spark, root, "p", end = 1L,
      k = 10).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    assert(SegmentedIndex.spanFirstSearch(spark, root, "q", end = 1L,
      k = 10).count() == 0)
    // tombstones drop from the span hit list
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.spanFirstSearch(spark, root, "p", end = 1L,
      k = 10).as[(Long, Long)].collect().map(_._1).toSeq ==
      Seq(1L, 3L))
    // field caps: the sparse column n reports 1 of 2 segments; the
    // indexed text field is the searchable one
    assert(SegmentedIndex.fieldCaps(spark, root)
      .as[(String, String, Boolean, Boolean, Long)].collect().toSeq ==
      Seq(("doc_id", "bigint", false, true, 2L),
        ("n", "bigint", false, true, 1L),
        ("text", "string", true, true, 2L)))
  }

  test("rangeFacet: every requested range appears (zero-count " +
    "included), from inclusive / to exclusive, tombstones drop") {
    val root = Files.createTempDirectory("graft-rng").toString
    val d = Seq(
      (1L, "x a", 5L),
      (2L, "x b", 10L),
      (3L, "x c", 25L),
      (4L, "y d", 15L)).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex.rangeFacet(spark, root, Seq("x"), "n",
      Seq((0L, 10L), (10L, 20L), (20L, 30L), (30L, 40L)))
      .as[(Long, Long, Long)].collect().toSeq
    // doc 2 (n=10) falls in [10,20) — the inclusive-from rule; doc 4
    // matches nothing; [30,40) stays at zero
    assert(got() == Seq((0L, 10L, 1L), (10L, 20L, 1L),
      (20L, 30L, 1L), (30L, 40L, 0L)))
    SegmentedIndex.delete(spark, root, Seq(3L).toDF("doc_id"), "d1")
    assert(got() == Seq((0L, 10L, 1L), (10L, 20L, 1L),
      (20L, 30L, 0L), (30L, 40L, 0L)))
  }

  test("cardinalityFacet: exact distinct + value count over the " +
    "live hit set; missing fields drop from both, tombstones move " +
    "the numbers immediately") {
    val root = Files.createTempDirectory("graft-card").toString
    val d = Seq(
      (1L, "x a", Option("c1")),
      (2L, "x b", Option("c1")),
      (3L, "x c", Option("c2")),
      (4L, "x d", Option.empty[String]),
      (5L, "y e", Option("c9"))).toDF("doc_id", "text", "cat")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex
      .cardinalityFacet(spark, root, Seq("x"), "cat")
      .as[(Long, Long)].collect().head
    // hits 1–4; doc 4's missing field drops; doc 5 matches nothing
    assert(got() == ((2L, 3L)))
    SegmentedIndex.delete(spark, root, Seq(3L).toDF("doc_id"), "d1")
    assert(got() == ((1L, 2L)),
      "the tombstoned doc must leave both numbers immediately")
  }

  test("compositeFacet: key-ordered bucket pages concatenate to the " +
    "full terms-by-key aggregation with no overlap or skip") {
    val root = Files.createTempDirectory("graft-comp").toString
    val d = Seq(
      (1L, "x a", "c1"), (2L, "x b", "c2"), (3L, "x c", "c3"),
      (4L, "x d", "c4"), (5L, "x e", "c2"), (6L, "y f", "c9"))
      .toDF("doc_id", "text", "cat")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val full = SegmentedIndex.compositeFacet(spark, root, Seq("x"),
      "cat", size = 100).as[(String, Long)].collect().toSeq
    assert(full == Seq(("c1", 1L), ("c2", 2L), ("c3", 1L),
      ("c4", 1L)), s"$full — key order, doc 6 matches nothing")
    var pages = Seq(SegmentedIndex.compositeFacet(spark, root,
      Seq("x"), "cat", size = 2).as[(String, Long)].collect().toSeq)
    while (pages.last.nonEmpty) {
      pages = pages :+ SegmentedIndex.compositeFacet(spark, root,
        Seq("x"), "cat", size = 2, after = Some(pages.last.last._1))
        .as[(String, Long)].collect().toSeq
    }
    assert(pages.flatten == full,
      "composite pages must concatenate to the full aggregation")
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.compositeFacet(spark, root, Seq("x"), "cat",
      100).as[(String, Long)].collect().toSeq.find(_._1 == "c2")
      .map(_._2) == Some(1L), "tombstone must shrink the bucket")
  }

  test("functionScoreSearch: the boosted ranking multiplies the " +
    "relevance score by the field, missing fields boost by 1, and " +
    "the re-rank can invert the relevance order") {
    val root = Files.createTempDirectory("graft-fsc").toString
    val d = Seq(
      (1L, "x x x", Some(1L)),
      (2L, "x", Some(10L)),
      (3L, "x x", Option.empty[Long])).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val r = SegmentedIndex.functionScoreSearch(spark, root, Seq("x"),
      "n", k = 10).as[(Long, Double, Double, Long)].collect().toSeq
    // relevance (tf·N/df = tf): doc1=3, doc2=1, doc3=2; boosted:
    // doc2 1·10=10 > doc1 3·1=3 > doc3 2·1(missing)=2
    assert(r.map(x => (x._1, x._2, x._3)) == Seq(
      (2L, 10.0, 10.0), (1L, 3.0, 1.0), (3L, 2.0, 1.0)), r.toString)
  }

  test("topHitsFacet: per-bucket top-scored hits under the total " +
    "order, rank caps per bucket, missing-field docs drop") {
    val root = Files.createTempDirectory("graft-th").toString
    val d = Seq(
      (1L, "x x x", Option("a")),
      (2L, "x x", Option("a")),
      (3L, "x", Option("a")),
      (4L, "x x", Option("b")),
      (5L, "x", Option.empty[String])).toDF("doc_id", "text", "g")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val r = SegmentedIndex.topHitsFacet(spark, root, Seq("x"), "g",
      perBucket = 2)
      .as[(String, Long, Double, Long)].collect().toSeq
    assert(r.map(x => (x._1, x._2, x._4)) == Seq(
      ("a", 1L, 1L), ("a", 2L, 2L), ("b", 4L, 1L)),
      s"$r — doc 3 must be cut by the per-bucket cap, doc 5 dropped")
  }

  test("multiFacet: aggregation across a corpus split equals the " +
    "combined single index; per-index tombstones apply; the same " +
    "doc_id in two indices counts twice (the (_index,_id) identity)") {
    val l = Files.createTempDirectory("graft-mfl").toString
    val r = Files.createTempDirectory("graft-mfr").toString
    val all = Files.createTempDirectory("graft-mfa").toString
    val dl = Seq((1L, "x a", "news"), (2L, "x b", "blog"))
      .toDF("doc_id", "text", "cat")
    val dr = Seq((3L, "x c", "news"), (4L, "y d", "news"))
      .toDF("doc_id", "text", "cat")
    SegmentedIndex.append(spark, l, dl, "a", nBuckets = 4)
    SegmentedIndex.append(spark, r, dr, "a", nBuckets = 8)
    SegmentedIndex.append(spark, all, dl.unionByName(dr), "a",
      nBuckets = 4)
    def fed() = SegmentedIndex.multiFacet(spark,
      Seq("l" -> l, "r" -> r), Seq("x"), "cat", 10)
      .as[(String, Long)].collect().toSeq
    assert(fed() == SegmentedIndex.facet(spark, all, Seq("x"), "cat", 10)
      .as[(String, Long)].collect().toSeq,
      "the split must aggregate exactly like the combined index")
    SegmentedIndex.delete(spark, r, Seq(3L).toDF("doc_id"), "d1")
    assert(fed() == Seq(("blog", 1L), ("news", 1L)))
    // same id in both indices = two documents
    SegmentedIndex.append(spark, r,
      Seq((1L, "x dup", "blog")).toDF("doc_id", "text", "cat"), "b")
    assert(fed() == Seq(("blog", 2L), ("news", 1L)))
  }

  test("collapseSearch: one representative per field value (the " +
    "top-scored), missing field is one null group, k applies after " +
    "collapsing; explainScore breaks a doc's score into per-term " +
    "contributions that sum to it") {
    val root = Files.createTempDirectory("graft-cl").toString
    val d = Seq(
      (1L, "x x", Option("a")),
      (2L, "x", Option("a")),
      (3L, "x", Option("b")),
      (4L, "x x x", Option.empty[String]),
      (5L, "x", Option.empty[String])).toDF("doc_id", "text", "g")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val r = SegmentedIndex.collapseSearch(spark, root, Seq("x"), "g", 10)
      .as[(Long, Double, Option[String])].collect().toSeq
    // group a -> doc 1 (tf 2 beats doc 2); b -> doc 3; null -> doc 4
    assert(r.map(x => (x._1, x._3)) ==
      Seq((4L, None), (1L, Some("a")), (3L, Some("b"))))
    // explain: doc 1's score decomposes into its single-term contrib
    val ex = SegmentedIndex.explainScore(spark, root, 1L, Seq("x"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(ex == Seq(("x", 2L, 5L, 2.0 * (5.0 / 5.0))))
    val score1 = SegmentedIndex.search(spark, root, Seq("x"), 10)
      .filter(col("doc_id") === 1L).select("score")
      .as[Double].collect().head
    assert(ex.map(_._4).sum == score1,
      "the explanation must sum to the served score exactly")
    // tombstoned doc explains to zero rows (ES matched: false)
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    assert(SegmentedIndex.explainScore(spark, root, 1L, Seq("x"))
      .count() == 0)
  }

  test("phrasePrefixSearch: the last position matches any expansion " +
    "(counted once), leading positions exactly; maxExpansions caps " +
    "smallest-first; tombstones drop docs") {
    val root = Files.createTempDirectory("graft-pp").toString
    val d = Seq(
      (1L, "big order now"),
      (2L, "big organ"),
      (3L, "order big"),
      (4L, "big big order"),
      (5L, "small order")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got(maxExp: Int = 50) = SegmentedIndex
      .phrasePrefixSearch(spark, root, Seq("big"), "or", maxExp)
      .as[(Long, Long, Long)].collect().toSeq
    // 'big or*': docs 1 (big order), 2 (big organ), 4 (big order at
    // anchor 1); doc 3 has the wrong order, doc 5 the wrong lead
    assert(got() == Seq((1L, 1L, 0L), (2L, 1L, 0L), (4L, 1L, 1L)))
    // cap at 1 expansion: smallest-first keeps 'order', drops 'organ'
    assert(got(maxExp = 1) == Seq((1L, 1L, 0L), (4L, 1L, 1L)))
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    assert(got() == Seq((2L, 1L, 0L), (4L, 1L, 1L)))
    // no expansion in the vocabulary -> empty typed frame
    assert(SegmentedIndex
      .phrasePrefixSearch(spark, root, Seq("big"), "zz").count() == 0)
  }

  test("constant-score dictionary walks: the over-cap DISTRIBUTED " +
    "semi-join fallback returns exactly the enumerable path's " +
    "results, and the plan proves which path ran") {
    val root = Files.createTempDirectory("graft-cap").toString
    // 6 distinct 'da*' terms — far above a cap of 2, far below the
    // default cap
    val d = Seq(
      (1L, "dab dac x"),
      (2L, "dad dae"),
      (3L, "daf dag dab"),
      (4L, "nope only")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    def run(maxExp: Int) =
      SegmentedIndex.prefixSearch(spark, root, "da", 10, maxExp)
    val reference = run(1024) // enumerable: 6 terms <= 1024
    val fallback = run(2)     // over-cap: 6 terms > 2 -> semi-join
    assert(fallback.as[(Long, Double, Long)].collect().toSeq ==
      reference.as[(Long, Double, Long)].collect().toSeq,
      "the fallback must equal the uncapped computation exactly")
    assert(reference.collect().nonEmpty)
    // the fallback plan carries the distributed LeftSemi; the
    // enumerable plan resolves to literal terms (no semi join)
    assert(fallback.queryExecution.optimizedPlan.toString
      .contains("LeftSemi"), "over-cap must take the semi-join path")
    assert(!reference.queryExecution.optimizedPlan.toString
      .contains("LeftSemi"), "enumerable must take the literal path")
    // wildcard rides the same tail: same equality under the same cap
    val wRef = SegmentedIndex.wildcardSearch(spark, root, "da?", 10)
      .as[(Long, Double, Long)].collect().toSeq
    val wFb = SegmentedIndex.wildcardSearch(spark, root, "da?", 10,
      maxExpansions = 2).as[(Long, Double, Long)].collect().toSeq
    assert(wFb == wRef)
  }

  test("tombstone layout scales with the victim set: a large delete " +
    "lands as multiple doc-id-hash-bucketed files, never one task's " +
    "file — and queries serve identically") {
    val root = Files.createTempDirectory("graft-tbl").toString
    val docs = (1L to 60L).map(i => (i, s"x doc number$i"))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "bulk", nBuckets = 4)
    // the partition-count rule itself: 1 file for small sets, scaling
    // capped at 256
    assert(SegmentedIndex.tombstoneParts(4L,
      SegmentedIndex.TombstoneRowsPerFile) == 1)
    assert(SegmentedIndex.tombstoneParts(5L * 1024 * 1024,
      SegmentedIndex.TombstoneRowsPerFile) == 5)
    assert(SegmentedIndex.tombstoneParts(Long.MaxValue / 4,
      SegmentedIndex.TombstoneRowsPerFile) == 256)
    // a victim set 5x the per-file bound lands as >1 parquet file
    SegmentedIndex.deleteWithLayout(spark, root,
      (1L to 50L).toDF("doc_id"), "big", rowsPerFile = 10L)
    val delDir = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("del=")).head
    val files = delDir.listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 5, s"expected 5 tombstone files, got $files")
    val ids = SegmentedIndex.search(spark, root, Seq("x"), 100)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == (51L to 60L).toSet,
      "the multi-file tombstone must apply exactly")
  }

  test("the tombstone anti-join broadcast hint is GATED on the " +
    "manifest's victim accounting: small delete rides as a " +
    "broadcast, above-threshold the hint drops — results identical") {
    val root = Files.createTempDirectory("graft-tbg").toString
    val docs = (1L to 30L).map(i => (i, s"x doc number$i"))
      .toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, docs, "bulk", nBuckets = 4)
    SegmentedIndex.delete(spark, root, (1L to 10L).toDF("doc_id"), "d1")
    // the gate decides the HINT (what the engine asks for), so assert
    // on the optimized logical plan — at fixture scale AQE would
    // broadcast a 10-row side with or without it
    def hinted() = SegmentedIndex.search(spark, root, Seq("x"), 100)
      .queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast")
    val want = SegmentedIndex.search(spark, root, Seq("x"), 100)
      .as[(Long, Double, Long)].collect().toSeq
    assert(hinted(),
      "a 10-row tombstone set must carry the broadcast hint")
    spark.conf.set("graft.tombstones.broadcastMaxRows", "5")
    try {
      assert(!hinted(),
        "above the threshold the broadcast hint must drop")
      assert(SegmentedIndex.search(spark, root, Seq("x"), 100)
        .as[(Long, Double, Long)].collect().toSeq == want,
        "the gate must never change results")
    } finally
      spark.conf.unset("graft.tombstones.broadcastMaxRows")
  }

  test("wildcardSearch: ? is exactly one char, * any run, other " +
    "chars literal (regex metachars escaped); tombstones apply") {
    val root = Files.createTempDirectory("graft-wc").toString
    val d = Seq(
      (1L, "data dxta x"),
      (2L, "dta y"),
      (3L, "delta z"),
      (4L, "a+b c")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got(p: String) = SegmentedIndex
      .wildcardSearch(spark, root, p, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got("d?ta") == Seq((1L, 1.0, 2L)),
      "? must match exactly one character")
    assert(got("d*ta") ==
      Seq((1L, 1.0, 2L), (2L, 1.0, 1L), (3L, 1.0, 1L)))
    assert(got("a+b") == Seq((4L, 1.0, 1L)),
      "regex metacharacters in the pattern must be literal")
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(got("d*ta") == Seq((1L, 1.0, 2L), (3L, 1.0, 1L)))
  }

  test("rollover: the write alias flips to a fresh family index at " +
    "the doc threshold, sealed indices stay searchable, and " +
    "searchFamily's global stats make the seam invisible") {
    val dir = Files.createTempDirectory("graft-ro").toString
    val stem = dir + "/logs"
    val alias = dir + "/write-alias"
    SegmentedIndex.createIndex(stem + "-000001", nBuckets = 4)
    SegmentedIndex.setAlias(alias, stem + "-000001")
    val d1 = Seq(
      (1L, "spark data"),
      (2L, "spark vector"),
      (3L, "data only")).toDF("doc_id", "text")
    SegmentedIndex.append(spark,
      SegmentedIndex.resolveAlias(alias), d1, "a")
    assert(!SegmentedIndex.rollover(alias, maxDocs = 5L),
      "below the threshold the alias must not move")
    assert(SegmentedIndex.resolveAlias(alias) == stem + "-000001")
    assert(SegmentedIndex.rollover(alias, maxDocs = 3L))
    assert(SegmentedIndex.resolveAlias(alias) == stem + "-000002")
    // the fresh write index is empty but searchable
    assert(SegmentedIndex.search(spark,
      SegmentedIndex.resolveAlias(alias), Seq("spark"), 10)
      .count() == 0L)
    // ingest continues through the alias into the new index
    SegmentedIndex.append(spark, SegmentedIndex.resolveAlias(alias),
      Seq((4L, "spark new")).toDF("doc_id", "text"), "b")
    // the family search equals ONE combined index (global stats)
    val all = Files.createTempDirectory("graft-roc").toString
    SegmentedIndex.append(spark, all,
      d1.unionByName(Seq((4L, "spark new")).toDF("doc_id", "text")),
      "a", nBuckets = 4)
    val fam = SegmentedIndex.searchFamily(spark, alias,
      Seq("spark", "vector"), 10)
    assert(fam.select("doc_id", "score", "n_terms_hit").collect()
      .toSet ==
      SegmentedIndex.search(spark, all, Seq("spark", "vector"), 10)
        .collect().toSet,
      "the rollover seam must be invisible to relevance")
    assert(fam.select("idx").as[String].collect().toSet ==
      Set("000001", "000002"))
  }

  test("reindex copies live _source only (destination starts at " +
    "post-merge stats — bitwise equal to a merged source) and the " +
    "alias flip is an atomic pointer swap") {
    val v1 = Files.createTempDirectory("graft-ri1").toString
    val v2 = Files.createTempDirectory("graft-ri2").toString + "/idx"
    val alias = Files.createTempDirectory("graft-al").toString + "/a"
    val d = Seq(
      (1L, "spark data"),
      (2L, "spark join"),
      (3L, "data vector"),
      (4L, "spark vector vector")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, v1, d, "a", nBuckets = 4)
    SegmentedIndex.delete(spark, v1, Seq(2L).toDF("doc_id"), "d1")
    SegmentedIndex.upsert(spark, v1,
      Seq((3L, "data data spark")).toDF("doc_id", "text"), "u1")
    SegmentedIndex.reindex(spark, v1, v2, nBuckets = 8)
    val q = Seq("spark", "vector")
    // alias points at v1: pre-merge statistics serve
    SegmentedIndex.setAlias(alias, v1)
    assert(SegmentedIndex.searchAlias(spark, alias, q, 10)
      .collect().toSeq ==
      SegmentedIndex.search(spark, v1, q, 10).collect().toSeq)
    // flip to v2: the swap is one pointer replace
    SegmentedIndex.setAlias(alias, v2)
    assert(SegmentedIndex.resolveAlias(alias) == v2)
    assert(SegmentedIndex.searchAlias(spark, alias, q, 10)
      .collect().toSeq ==
      SegmentedIndex.search(spark, v2, q, 10).collect().toSeq)
    // the destination ranks bit-identically to a MERGED source:
    // reindex drops tombstones and re-derives stats, exactly merge's
    // stats shift
    SegmentedIndex.merge(spark, v1)
    assert(SegmentedIndex.search(spark, v2, q, 10).collect().toSeq ==
      SegmentedIndex.search(spark, v1, q, 10).collect().toSeq,
      "reindexed destination must equal the merged source bitwise")
    // reindex replay is a no-op (append's batch-key guard)
    SegmentedIndex.reindex(spark, v1, v2, nBuckets = 8)
    assert(SegmentedIndex.stats(v2)._1 == 1L,
      "a reindex replay must not add segments")
  }

  test("facetStats: nested terms+stats — per-role missing-field " +
    "rules (no bucket field drops the doc, no stat field keeps it " +
    "with empty stats), avg divides by the VALUE count") {
    val root = Files.createTempDirectory("graft-fst").toString
    val d = Seq(
      (1L, "x a", Option("news"), Option(10L)),
      (2L, "x b", Option("news"), Option.empty[Long]),
      (3L, "x c", Option("blog"), Option(30L)),
      (4L, "x d", Option.empty[String], Option(99L)))
      .toDF("doc_id", "text", "cat", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex
      .facetStats(spark, root, Seq("x"), "cat", "n", 10)
      .as[(String, Long, Option[Long], Option[Long], Option[Long],
        Option[Double])].collect().toSeq
    // doc 4 has no bucket field -> gone; doc 2 counts in news but
    // contributes no value, so news' avg is 10/1 not 10/2
    assert(got() == Seq(
      ("news", 2L, Some(10L), Some(10L), Some(10L), Some(10.0)),
      ("blog", 1L, Some(30L), Some(30L), Some(30L), Some(30.0))))
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    assert(got() == Seq(
      ("blog", 1L, Some(30L), Some(30L), Some(30L), Some(30.0)),
      ("news", 1L, None, None, None, None)),
      "a value-less bucket must survive with empty stats")
  }

  test("statsFacet: single-row count/min/max/sum/avg over the live " +
    "hit set — tombstones move the stats immediately, missing " +
    "fields are ignored") {
    val root = Files.createTempDirectory("graft-stf").toString
    val d = Seq(
      (1L, "x a", Some(10L)),
      (2L, "x b", Some(30L)),
      (3L, "x c", None),
      (4L, "y d", Some(99L))).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex
      .statsFacet(spark, root, Seq("x"), "n")
      .as[(Long, Long, Long, Long, Double)].collect().head
    // doc 3 matches but has no field; doc 4 has a field but no match
    assert(got() == ((2L, 10L, 30L, 40L, 20.0)))
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(got() == ((1L, 10L, 10L, 10L, 10.0)))
  }

  test("significantTerms: JLH overrepresentation vs the background " +
    "dictionary — flat terms score zero and vanish, min_doc_count " +
    "gates, and a tombstone moves ONLY the foreground (bg stays " +
    "pre-merge)") {
    val root = Files.createTempDirectory("graft-sig").toString
    val d = (Seq(
      (1L, "err disk common"),
      (2L, "err disk common"),
      (3L, "err disk common"),
      (4L, "err common")) ++
      (5L to 10L).map(i => (i, s"common x$i"))).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got(minDc: Long = 3L) = SegmentedIndex
      .significantTerms(spark, root, Seq("err"), 10, minDc)
      .as[(String, Long, Long, Double)].collect().toSeq
    val r = got()
    // 'common' is in every doc: fg% == bg% -> score 0, excluded;
    // 'err' (fg 4/4 vs bg 4/10) outranks 'disk' (3/4 vs 3/10)
    assert(r.map(x => (x._1, x._2, x._3)) ==
      Seq(("err", 4L, 4L), ("disk", 3L, 3L)))
    assert(r(0)._4 > r(1)._4 && r(1)._4 > 0.0)
    assert(math.abs(r(1)._4 - 1.125) < 1e-12)
    assert(got(minDc = 4L).map(_._1) == Seq("err"),
      "min_doc_count must gate on FOREGROUND count")
    // tombstone doc 4: foreground shrinks to the three disk docs but
    // the background df stays pre-merge — 'disk' (fg 3/3 vs bg 3/10)
    // now outranks 'err' (3/3 vs bg 4/10)
    SegmentedIndex.delete(spark, root, Seq(4L).toDF("doc_id"), "d1")
    assert(got().map(_._1) == Seq("disk", "err"))
  }

  test("boolSearch rangeFilter: filter context constrains on the " +
    "stored field without touching scores, and an upserted doc is " +
    "judged on its NEW value") {
    val root = Files.createTempDirectory("graft-rf").toString
    val d = Seq(
      (1L, "spark a", 10L),
      (2L, "spark b", 50L),
      (3L, "spark c", 99L)).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def ids(lo: Long, hi: Long) = SegmentedIndex.boolSearch(spark,
      root, Seq("spark"), k = 10, rangeFilter = Some(("n", lo, hi)))
      .select("doc_id").as[Long].collect().toSet
    assert(ids(40L, 100L) == Set(2L, 3L))
    // the filter must not change scores: compare vs unfiltered
    val unf = SegmentedIndex.boolSearch(spark, root, Seq("spark"),
      k = 10).select("doc_id", "score").as[(Long, Double)]
      .collect().toMap
    val fil = SegmentedIndex.boolSearch(spark, root, Seq("spark"),
      k = 10, rangeFilter = Some(("n", 40L, 100L)))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(fil.forall { case (id, s) => unf(id) == s },
      "filter context must never touch the score")
    // upsert moves doc 2's field OUT of range: the dead version's
    // stored row (50) must not qualify it
    SegmentedIndex.upsert(spark, root,
      Seq((2L, "spark b2", 5L)).toDF("doc_id", "text", "n"), "u1")
    assert(ids(40L, 100L) == Set(3L))
    assert(ids(0L, 100L) == Set(1L, 2L, 3L))
  }

  test("searchAfter: pages concatenate to the full ranking with no " +
    "overlap or skip, across a score tie (the doc_id tiebreaker)") {
    val root = Files.createTempDirectory("graft-sa").toString
    val d = Seq(
      (1L, "spark spark"),
      (2L, "spark"),
      (3L, "spark"),
      (4L, "spark vector"),
      (5L, "vector vector")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    val q = Seq("spark", "vector")
    val full = SegmentedIndex.search(spark, root, q, 10).collect().toSeq
    assert(full.map(_.getLong(0)) == Seq(5L, 4L, 1L, 2L, 3L))
    // page through with k=2: the 2/3 tie (equal scores) spans pages
    var pages = Seq(SegmentedIndex.search(spark, root, q, 2)
      .collect().toSeq)
    var last = pages.last.last
    while (pages.last.nonEmpty) {
      pages = pages :+ SegmentedIndex.searchAfter(spark, root, q, 2,
        last.getDouble(1), last.getLong(0)).collect().toSeq
      if (pages.last.nonEmpty) last = pages.last.last
    }
    assert(pages.flatten == full,
      "page concatenation must equal the one-shot ranking exactly")
    assert(pages.map(_.size) == Seq(2, 2, 1, 0))
  }

  test("prefixSearch: constant-score dictionary expansion — matched " +
    "term count per doc, token prefixes only, tombstones drop docs, " +
    "no match returns an empty typed frame") {
    val root = Files.createTempDirectory("graft-px").toString
    val d = Seq(
      (1L, "data database x"),
      (2L, "datum y"),
      (3L, "nodata z")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex.prefixSearch(spark, root, "dat", 10)
      .as[(Long, Double, Long)].collect().toSeq
    // 'nodata' does not START with 'dat' — doc 3 must not match
    assert(got() == Seq((1L, 1.0, 2L), (2L, 1.0, 1L)))
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    assert(got() == Seq((1L, 1.0, 2L)))
    val none = SegmentedIndex.prefixSearch(spark, root, "zzz", 10)
    assert(none.columns.toSeq ==
      Seq("doc_id", "score", "n_terms_matched") && none.count() == 0)
  }

  test("sortedSearch: field sort over the hit set — both directions, " +
    "missing field sorts last, non-matching docs never appear") {
    val root = Files.createTempDirectory("graft-ss").toString
    val d = Seq(
      (1L, "x a", Some(30L)),
      (2L, "x b", Some(10L)),
      (3L, "x c", None),
      (4L, "y d", Some(5L))).toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got(asc: Boolean) = SegmentedIndex
      .sortedSearch(spark, root, Seq("x"), "n", 10, ascending = asc)
      .as[(Long, Option[Long])].collect().toSeq
    assert(got(asc = true) ==
      Seq((2L, Some(10L)), (1L, Some(30L)), (3L, None)))
    assert(got(asc = false) ==
      Seq((1L, Some(30L)), (2L, Some(10L)), (3L, None)),
      "missing must sort last in BOTH directions (ES missing:_last)")
    SegmentedIndex.delete(spark, root, Seq(1L).toDF("doc_id"), "d1")
    assert(got(asc = true) == Seq((2L, Some(10L)), (3L, None)))
  }

  test("multiSearch: global dfs stats make federation lossless — " +
    "split indices rank exactly like one combined index; tombstones " +
    "stay per-index; ids namespace by index") {
    val l = Files.createTempDirectory("graft-ml").toString
    val r = Files.createTempDirectory("graft-mr").toString
    val all = Files.createTempDirectory("graft-ma").toString
    val dl = Seq(
      (1L, "spark data"),
      (2L, "spark join"),
      (3L, "data data vector")).toDF("doc_id", "text")
    val dr = Seq(
      (4L, "spark vector"),
      (5L, "join only")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, l, dl, "a", nBuckets = 4)
    SegmentedIndex.append(spark, r, dr, "a", nBuckets = 8)
    SegmentedIndex.append(spark, all, dl.unionByName(dr), "a",
      nBuckets = 4)
    val q = Seq("spark", "vector")
    val fed = SegmentedIndex.multiSearch(spark,
      Seq("left" -> l, "right" -> r), q, 10)
    val mono = SegmentedIndex.search(spark, all, q, 10)
    assert(fed.select("doc_id", "score", "n_terms_hit").collect()
      .toSet == mono.collect().toSet,
      "federated scores must equal the combined single index bitwise")
    // a tombstone in one index never touches the other's documents
    SegmentedIndex.delete(spark, r, Seq(4L).toDF("doc_id"), "d1")
    val fed2 = SegmentedIndex.multiSearch(spark,
      Seq("left" -> l, "right" -> r), q, 10)
    assert(fed2.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L),
      "the right-index tombstone must drop doc 4 and nothing else")
    // the same doc_id in two indices is two documents — ES's
    // (_index, _id) identity
    SegmentedIndex.append(spark, r,
      Seq((1L, "spark spark spark")).toDF("doc_id", "text"), "b")
    val fed3 = SegmentedIndex.multiSearch(spark,
      Seq("left" -> l, "right" -> r), q, 10)
    assert(fed3.select("idx", "doc_id").as[(String, Long)].collect()
      .toSet.count(_._2 == 1L) == 2,
      "doc_id 1 must appear namespaced under both indices")
  }

  test("histogramFacet: buckets confine to the hit set and empty " +
    "intervals between the occupied bounds fill with zero " +
    "(ES min_doc_count=0); a tombstone shrinks the range") {
    val root = Files.createTempDirectory("graft-hist").toString
    val d = Seq(
      (1L, "x a", 5L),
      (2L, "x b", 12L),
      (3L, "x c", 97L),
      (4L, "y far", 55L))
      .toDF("doc_id", "text", "n")
    SegmentedIndex.append(spark, root, d, "a", nBuckets = 4)
    def got() = SegmentedIndex
      .histogramFacet(spark, root, Seq("x"), "n", interval = 20L)
      .as[(Long, Long)].collect().toSeq
    // hits 1,2,3 — doc 4 (bucket 40) matches nothing and must not
    // appear; gaps 20..60 fill with zeros
    assert(got() == Seq((0L, 2L), (20L, 0L), (40L, 0L), (60L, 0L),
      (80L, 1L)))
    SegmentedIndex.delete(spark, root, Seq(3L).toDF("doc_id"), "d1")
    assert(got() == Seq((0L, 2L)),
      "the tombstoned doc must leave and the fill range must shrink")
  }

  test("boolSearch: must is a conjunction, should only boosts, " +
    "mustNot filters without scoring; a should-only bool equals " +
    "plain search (minimum_should_match=1); tombstone and upsert " +
    "flow through") {
    val root = Files.createTempDirectory("graft-bool").toString
    val d1 = Seq(
      (1L, "spark data x"),
      (2L, "spark data join"),
      (3L, "spark only"),
      (4L, "data vector")).toDF("doc_id", "text")
    val d2 = Seq((5L, "spark data vector")).toDF("doc_id", "text")
    SegmentedIndex.append(spark, root, d1, "a", nBuckets = 4)
    SegmentedIndex.append(spark, root, d2, "b")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSeq
    val r = SegmentedIndex.boolSearch(spark, root,
      must = Seq("spark", "data"), should = Seq("vector"),
      mustNot = Seq("join"), k = 10)
    // doc 2 matches both must terms but is excluded by must_not;
    // docs 3 and 4 each miss one must term; doc 5 outranks doc 1 on
    // the should boost alone
    assert(ids(r) == Seq(5L, 1L))
    assert(r.select("n_terms_hit").as[Long].collect().toSeq ==
      Seq(3L, 2L), "should clause must count as a scoring match")
    // should-only bool: at least one should term must match, and the
    // result is exactly the plain multi-term search
    val so = SegmentedIndex.boolSearch(spark, root, Seq.empty,
      should = Seq("vector", "join"), k = 10)
    assert(ids(so).sorted == Seq(2L, 4L, 5L))
    val se = SegmentedIndex.search(spark, root,
      Seq("vector", "join"), 10)
    assert(so.collect().toSeq == se.collect().toSeq,
      "a should-only bool is the plain disjunctive search")
    SegmentedIndex.delete(spark, root, Seq(5L).toDF("doc_id"), "d1")
    assert(ids(SegmentedIndex.boolSearch(spark, root,
      Seq("spark", "data"), Seq("vector"), Seq("join"), 10)) ==
      Seq(1L), "tombstoned doc must leave the bool hits immediately")
    // upsert drops doc 2's 'join': the new version passes must_not
    SegmentedIndex.upsert(spark, root,
      Seq((2L, "spark data fresh")).toDF("doc_id", "text"), "u1")
    assert(ids(SegmentedIndex.boolSearch(spark, root,
      Seq("spark", "data"), Seq("vector"), Seq("join"), 10)).sorted ==
      Seq(1L, 2L), "the upserted version must be filtered on ITS terms")
  }

  test("snapshot freezes a generation, re-snapshot is incremental, " +
    "and the destination is a fully working index") {
    val root = freshIndex()
    val snap = Files.createTempDirectory("graft-snap").toString + "/s"
    assert(SegmentedIndex.snapshot(root, snap) == 2)
    SegmentedIndex.delete(spark, root, Seq(2L).toDF("doc_id"), "d1")
    // the frozen generation still sees doc 2
    val frozen = SegmentedIndex.search(spark, snap, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(frozen.map(_._1) == Seq(1L, 2L), frozen.toString)
    // incremental: only the tombstone segment copies over
    assert(SegmentedIndex.snapshot(root, snap) == 1)
    assert(SegmentedIndex.search(spark, snap, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq == Seq(1L))
    // the snapshot is a full index: fetch and phrase work there too
    assert(SegmentedIndex.fetch(spark, snap, Seq(1L, 2L))
      .as[(Long, String)].collect().toSeq == Seq((1L, "x x y")))
    // and it stays isolated: mutating the snapshot never touches the
    // source
    SegmentedIndex.delete(spark, snap, Seq(1L).toDF("doc_id"), "dz")
    assert(SegmentedIndex.search(spark, root, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq == Seq(1L))
  }

  test("PIT liveness: vacuum never reclaims a directory only an older " +
    "RETAINED generation references — searchAt keeps serving there — " +
    "and retirement is the one path that frees it") {
    val root = freshIndex()
    val q = Seq("x", "y")
    val preMergeGen = SegmentedIndex.generations(root).last
    val preMerge = SegmentedIndex.searchAt(spark, root, preMergeGen, q, 10)
      .collect().toSeq
    SegmentedIndex.merge(spark, root)
    // the pre-merge segments are referenced ONLY by preMergeGen now;
    // an aggressive vacuum must still spare them
    assert(SegmentedIndex.vacuum(root, olderThanMs = 0L) == 0,
      "vacuum reclaimed a dir a retained generation still references")
    assert(SegmentedIndex.searchAt(spark, root, preMergeGen, q, 10)
      .collect().toSeq == preMerge,
      "the pinned pre-merge view must survive an aggressive vacuum")
    // age-gated retirement: a keep-alive window longer than the test
    // retires nothing; dropping it retires the two pre-merge gens
    assert(SegmentedIndex.retireGenerations(root, keep = 1,
      olderThanMs = 3600L * 1000) == 0)
    assert(SegmentedIndex.retireGenerations(root, keep = 1) == 2)
    assert(SegmentedIndex.vacuum(root, olderThanMs = 0L) == 2)
    // the retired generation now fails loudly (the PIT expired)
    intercept[IllegalArgumentException] {
      SegmentedIndex.searchAt(spark, root, preMergeGen, q, 10).collect()
    }
    // the live view is untouched throughout
    assert(SegmentedIndex.search(spark, root, q, 10).count() > 0)
  }

  test("an unreferenced segment directory is invisible to search and " +
    "reclaimed by vacuum once aged") {
    val root = freshIndex()
    val before = SegmentedIndex.search(spark, root, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    // a crashed writer's orphan: data landed, manifest rename never ran
    val orphan = new java.io.File(root, "seg=deadbeefcafe")
    corpus.limit(1)
      .select(col("doc_id"),
        expr("bigint(size(split(text, ' ')))").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("tb", lit(0))
      .write.partitionBy("tb").parquet(orphan.getPath)
    assert(SegmentedIndex.search(spark, root, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq == before,
      "orphan data must stay invisible")
    assert(SegmentedIndex.stats(root) == ((2L, 0L, 4L)))
    assert(SegmentedIndex.vacuum(root) == 0,
      "a fresh orphan survives the age threshold")
    def age(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 10L * 3600 * 1000)
      Option(f.listFiles()).toSeq.flatten.foreach(age)
    }
    // a crashed writeManifest's temp commit file is reclaimed too
    val tmpManifest = new java.io.File(root, "_SEGMENTS.tmp-dead")
    tmpManifest.createNewFile()
    tmpManifest.setLastModified(
      System.currentTimeMillis() - 10L * 3600 * 1000)
    age(orphan)
    assert(SegmentedIndex.vacuum(root) == 2)
    assert(!orphan.exists() && !tmpManifest.exists())
    assert(SegmentedIndex.search(spark, root, Seq("x"), 10)
      .as[(Long, Double, Long)].collect().toSeq == before)
  }
}
