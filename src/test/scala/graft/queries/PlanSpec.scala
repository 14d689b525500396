package graft.queries

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

import graft.{Run, SparkEntry, SparkSpec}

/** Physical-plan regression tests: the properties that make these plans
  * survive a 100 TB scale-up are asserted, not assumed. A refactor that
  * silently breaks filter pushdown, broadcasts a big side, or loses
  * partial aggregation passes correctness tests but dies on a cluster —
  * these specs catch that class of regression at build time.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001)
      .queryExecution.executedPlan.toString

  test("q02: filters push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("l_discount") && p.contains("GreaterThan"),
      "discount filter not pushed")
  }

  test("q02: scan reads only projected+filtered columns") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_suppkey"),
      s"column pruning lost: $readSchema")
  }

  test("q03: small dimension is broadcast, not shuffled") {
    val p = plan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q01: aggregation is partial (map-side) + final") {
    val p = plan("q01_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      p.take(800))
    // two HashAggregate levels around the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q01: plan runs inside whole-stage codegen") {
    // AQE only materializes codegen stages once executed
    val df = SparkEntry.queries("q01_agg")(spark, sf001)
    df.collect() // count() plans a separate agg; collect finalizes THIS plan
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen stage marker in plan strings
    assert(p.contains("*("), p.take(600))
  }

  test("q12: global sort+limit becomes TakeOrderedAndProject") {
    val p = plan("q12_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q04: EXISTS becomes a semi join, not an aggregate-join") {
    val p = plan("q04_semijoin")
    assert(p.contains("LeftSemi"), p.take(800))
  }

  test("q23 vs q23b: scalable id path drops the single-partition window") {
    // q23 is exact reference parity: row_number() over an un-partitioned
    // window — Spark warns and funnels every row through ONE task
    val parity = plan("q23_index_docs")
    assert(parity.contains("Window") && parity.contains("SinglePartition"),
      parity.take(1200))
    // q23b produces the identical id sequence (same oracle) with the
    // distributed path: range-repartition + per-partition offsets — no
    // window and no single-partition exchange anywhere in the plan
    val scaled = plan("q23b_index_scaled")
    assert(!scaled.contains("Window"), scaled.take(1200))
    assert(!scaled.contains("SinglePartition"), scaled.take(1200))
  }

  test("q111: EXISTS-LATERAL decorrelates to rank + semi join") {
    val p = plan("q111_exists_lateral")
    // the correlated LIMIT 3 must become a per-custkey row_number rank...
    assert(p.contains("row_number"), p.take(1500))
    // ...feeding a semi join — not a per-outer-row nested-loop subquery
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q112: LATERAL aggregate decorrelates to partial+final agg + one join") {
    val p = plan("q112_lateral_agg")
    // map-side partial aggregation over orders, not per-customer subqueries
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1500))
    assert(p.contains("LeftOuter"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q114: multiple distinct aggregates run as ONE Expand pipeline") {
    val p = plan("q114_multi_distinct")
    // the Expand rewrite: rows fanned out per distinct-column set...
    assert(p.contains("Expand"), p.take(1500))
    // ...feeding partial+final aggregation — not a join of per-distinct
    // subplans
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q43: the cardinality sketch is one narrow buffer, not HLL++ registers") {
    val aqe = new AdaptiveSparkPlanHelper {}
    def aggs(p: SparkPlan) =
      aqe.collect(p) { case a: BaseAggregateExec => a }
    // The AQE-final plan of the noop write, query stages included.
    val plans = executedPlans(Run.materialize(
      SparkEntry.queries("q43_approx_distinct")(spark, sf001)))(
      _.exists(p => aggs(p._2).nonEmpty)).map(_._2)
    val found = plans.flatMap(aggs)
    assert(found.nonEmpty, plans.mkString("\n"))
    // Spark's HLL++ at rsd 0.01 keeps 1639 long buffer columns per
    // sketch, and every row the distinct-aggregate Expand emits
    // carries them.
    found.foreach { a =>
      val width = a.aggregateExpressions.map(_.aggregateFunction.aggBufferAttributes.size).sum
      assert(width <= 16, s"$width aggregate-buffer columns in ${a.nodeName}: " +
        a.aggregateExpressions.map(_.aggregateFunction.prettyName).distinct.mkString(", "))
    }
    assert(found.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.prettyName == "hll_sketch_agg")), plans.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("q26: tf-idf search keeps the corpus-size frame broadcast") {
    val p = plan("q26_tfidf_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(1200))
  }

  test("no query plans an accidental Cartesian product") {
    // q40 is an intentional CROSS JOIN of two tiny inputs
    val allowed = Set("q40_crossjoin")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowed)
      .filter { name =>
        val p = SparkEntry.queries(name)(spark, sf001)
          .queryExecution.executedPlan.toString
        p.contains("CartesianProduct")
      }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("q57: as-of join uses the equi key (no nested-loop over facts)") {
    val p = plan("q57_asof")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("HashJoin"),
      p.take(1200))
  }

  test("q35: brute-force top-k broadcasts the query side only") {
    val p = plan("q35_cosine_topk")
    assert(p.contains("BroadcastExchange"), p.take(1200))
    // corpus side must not be globally sorted (window is per-q_id)
    assert(!p.contains("GlobalSort"), "unexpected global sort")
  }

  test("q66: vocab top-k is TakeOrdered over a partial-aggregated count") {
    val p = plan("q66_subword_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "agg not partial+final")
  }

  test("q67: quantized ANN broadcasts the query side only") {
    val p = plan("q67_ann_int8")
    assert(p.contains("BroadcastExchange"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q85: boilerplate doc-frequency aggregation is partial+final") {
    val p = plan("q85_boilerplate")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "agg not partial+final")
    assert(!p.contains("CartesianProduct"))
  }

  test("q84: incremental dedup joins on the band key (no all-pairs shape)") {
    val p = plan("q84_incremental_dedup")
    // the candidate join must key on band columns — a hash or sort-merge
    // equi-join, never a nested loop over doc pairs
    assert(p.contains("band_key"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation degenerated to a non-equi join")
  }

  test("q93: LATERAL limit-2 decorrelates to a rank window, not a loop") {
    val p = plan("q93_lateral")
    // Catalyst must rewrite the correlated ORDER BY+LIMIT subquery into
    // a partitioned window/rank over ONE scan of orders — per-outer-row
    // re-execution would surface as a nested-loop join
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q94: star join broadcasts every dimension, shuffles only facts") {
    val p = plan("q94_star_join")
    // region+nation are hinted; customer/supplier picked up by AQE at
    // this SF — all four must be broadcast, never shuffled-for-join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // the revenue agg is partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 2, "agg not partial+final")
  }

  test("q95: collocation unigram joins broadcast; bigram agg partial+final") {
    val p = plan("q95_collocations")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "agg not partial+final")
  }

  test("q97: graph joins are hash equi-joins on vertex ids, never loops") {
    val p = plan("q97_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Join"), p.take(1500))
  }

  test("q62: bucketed join + same-key agg plans with no hash exchange") {
    val df = SparkEntry.queries("q62_bucketed_join")(spark, sf001)
    df.collect() // finalize the (adaptive) plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(1200))
    // The join reads co-located buckets and the aggregation groups on
    // the bucket key — the only allowed exchange is the final ORDER BY
    // range partitioning.
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed q62 still shuffles:\n${p.take(1500)}")
  }

  test("q105: phrase match tokenizes the corpus ONCE behind a literal-term filter") {
    val p = plan("q105_phrase_search")
    // the literal phrase-term IN filter must actually appear in the
    // plan (right above the postings generate) — not just the word
    // "term" somewhere
    assert(Seq("big", "order", "scan").forall(p.contains),
      s"literal term filter missing:\n${p.take(1500)}")
    assert(p.contains("Filter"), p.take(1500))
    // the anchor-count formulation explodes the corpus exactly once;
    // a k-way posting self-join would show k+1 Generate nodes
    val generates = "Generate".r.findAllIn(p).length
    assert(generates == 1,
      s"corpus exploded $generates times (expected 1):\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "phrase match degenerated to a non-equi join")
  }

  /** The term buckets each file scan of a segment plan may read: one
    * set per scan line, parsed from its `tb` PartitionFilters
    * (`tb IN (…)`, or `tb = n` once the optimizer folds a one-value
    * IN). A scan without a `tb` filter yields an empty set. */
  private def tbBuckets(p: String): Seq[Set[Int]] =
    p.linesIterator.filter(_.contains("FileScan")).map { l =>
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      ("tb#\\d+ IN \\(([^)]*)\\)".r.findAllMatchIn(pf)
        .flatMap(_.group(1).split(",").map(_.trim.toInt)) ++
        "tb#\\d+ = (\\d+)".r.findAllMatchIn(pf).map(_.group(1).toInt))
        .toSet
    }.toSeq

  /** The term-bucket count of the whole-corpus segment root behind
    * q164/q105b (staged on first use), as laid out on disk. */
  private def fullRootBuckets(): Int = {
    val root = graft.operators.Search.ensureBm25Index(spark, sf001,
      graft.engine.Tables.table(spark, sf001, "documents"))
    val segs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("seg="))
    assert(segs.length == 1, s"expected one segment under $root")
    segs.head.listFiles().count(_.getName.startsWith("tb="))
  }

  test("q105b: indexed phrase query prunes the bucketed postings scan") {
    val df = SparkEntry.queries("q105b_phrase_indexed")(spark, sf001)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(fullRootBuckets() == 8, "the staged root must hold 8 term buckets")
    // every scan is a postings scan that reads only the buckets
    // holding the 3 phrase terms — never all 8
    val scans = tbBuckets(p)
    assert(scans.nonEmpty, s"no postings scan in plan:\n${p.take(1500)}")
    scans.foreach(b => assert(b.nonEmpty && b.size <= 3 &&
      b.forall(x => x >= 0 && x < 8),
      s"expected <=3 of 8 buckets, scanned $b:\n${p.take(1500)}"))
    // and the corpus is not re-tokenized: positions come from the
    // index, the documents table is never scanned
    assert(!p.contains("documents.parquet"),
      s"indexed phrase query scanned the corpus:\n${p.take(1500)}")
  }

  test("q164: indexed BM25 prunes every postings scan to the term's " +
    "bucket; the corpus is not in the plan") {
    val df = SparkEntry.queries("q164_bm25_indexed")(spark, sf001)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(fullRootBuckets() == 8, "the staged root must hold 8 term buckets")
    // tf, dl and df all come from the postings of ONE term: every
    // scan is a postings scan of one of the 8 buckets
    val scans = tbBuckets(p)
    assert(scans.nonEmpty, s"no postings scan in plan:\n${p.take(1500)}")
    scans.foreach(b => assert(b.size == 1 && b.forall(x => x >= 0 && x < 8),
      s"expected 1 of 8 buckets, scanned $b:\n${p.take(1500)}"))
    // N and totalLen are manifest literals: no documents.parquet scan
    assert(!p.contains("documents.parquet"),
      s"indexed BM25 scanned the corpus:\n${p.take(1500)}")
  }

  test("q105b: a staged invocation is probe-only — no index rebuild, " +
    "no documents scan") {
    // first invocations stage (or reuse) the fixture-keyed root
    SparkEntry.queries("q105b_phrase_indexed")(spark, sf001).collect()
    SparkEntry.queries("q164_bm25_indexed")(spark, sf001).collect()
    val root = graft.operators.Search.ensureBm25Index(spark, sf001,
      fail("staged index missing: ensure re-built on a warm call"))
    def indexFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = indexFiles()
    assert(before.nonEmpty, s"no files under staged index $root")
    val dfs = Seq("q105b_phrase_indexed", "q164_bm25_indexed")
      .map(q => SparkEntry.queries(q)(spark, sf001))
    dfs.foreach(_.collect())
    // the repeated invocations neither rewrote nor added a file…
    assert(indexFiles() == before,
      "a staged q105b/q164 invocation rewrote the segment root")
    // …and their plans read ONLY the index — the corpus parquet never
    // appears
    dfs.foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("documents.parquet"),
        s"staged probe still scans the corpus:\n${p.take(1500)}")
    }
  }

  test("q121: z-ordered layout skips — the clustered copy's scan reads " +
    "a fraction of an unclustered twin, and staging never rewrites") {
    import org.apache.spark.sql.functions._
    val zPath = SqlSurface.ensureZorderedLineitem(spark, sf001)
    def mtimes(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(zPath)).map(f => f.getPath -> f.lastModified())
        .toMap
    }
    val staged = mtimes()
    assert(staged.nonEmpty, s"no staged z-order files under $zPath")
    // unclustered twin: identical rows and file count, hash layout —
    // every file spans the full (partkey, suppkey) envelope, so parquet
    // stats can prune nothing
    // written unconditionally: a memoized twin could go stale against a
    // regenerated fixture and invalidate the comparison
    val flat = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ztest_flat_twin")
    graft.engine.Tables.table(spark, sf001, "lineitem")
      .repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(flat.getPath)
    // rows the SCAN emits (post row-group pruning) — the data-skipping
    // metric itself, not the post-filter row count (identical by
    // correctness)
    def scannedRows(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("l_partkey").between(10, 40) &&
          col("l_suppkey").between(1, 3))
        .select("l_orderkey")
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numOutputRows").value
      }.sum
    }
    val zRows = scannedRows(zPath)
    val flatRows = scannedRows(flat.getPath)
    assert(zRows > 0, "predicate selected nothing — test is vacuous")
    assert(zRows * 2 <= flatRows,
      s"z-ordered scan read $zRows rows vs unclustered $flatRows — " +
        "row-group skipping is not happening")
    // and the oracled entry is probe-only once staged: invoking it
    // must not rewrite the staged copy
    SparkEntry.queries("q121_zorder_skip")(spark, sf001).collect()
    assert(mtimes() == staged, "q121 invocation rewrote the staged z-copy")
  }

  test("q130: count/min/max are answered from parquet footer stats " +
    "(PushedAggregation), not a data scan") {
    val df = SparkEntry.queries("q130_meta_agg")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the parquet footer reader:\n${p.take(1500)}")
    assert(!p.contains("PushedAggregation: []"), p.take(1500))
    // and the derived-session conf did not leak into the shared session
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "false")
  }

  test("q133: partition-column predicate prunes directories at " +
    "planning time (PartitionFilters, not data filters)") {
    val df = SparkEntry.queries("q133_partition_prune")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang predicate did not reach PartitionFilters:\n${p.take(1500)}")
    assert("PartitionFilters: \\[[^\\]]*\\(lang[^\\]]* = en\\)".r
      .findFirstIn(p).nonEmpty,
      s"'= en' predicate missing from PartitionFilters:\n${p.take(1500)}")
    // the predicate must NOT fall back to a post-scan data filter
    assert(!p.contains("PushedFilters: [IsNotNull(lang"), p.take(1500))
  }

  test("q138: composed layout — lang directories prune at planning " +
    "time AND z-order skips files inside the surviving partition") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q138_part_zorder")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*\\(lang[^\\]]* = en\\)".r
      .findFirstIn(p).nonEmpty,
      s"lang predicate did not reach PartitionFilters:\n${p.take(1500)}")
    // the plan string truncates PushedFilters at ~100 chars, so only
    // the first z-column's pushdown is visibly assertable; the
    // files-read metric below is the real evidence both ranges skip
    assert(p.contains("GreaterThanOrEqual(n_chars"),
      s"z-column ranges not pushed to footers:\n${p.take(1500)}")
    // file-level skipping inside the partition: the en directory holds
    // numFiles z-ordered files; the composed predicate's z-rectangle
    // must not touch all of them (boundaries are deterministic, so
    // this is a fixed property of the fixture, not a flake)
    val dir = graft.engine.Bucketing.ensurePartitionedZordered(spark,
      sf001, graft.engine.Tables.table(spark, sf001, "documents"),
      "lang", Seq("n_chars", "doc_id"), "docs")
    // row-group skipping INSIDE the surviving partition, measured as
    // scan-emitted rows vs an unclustered twin of the same partition
    // (the q121 posture: numFiles is a planning metric and footer
    // pruning is row-group level, so rows emitted by the scan — after
    // row-group pruning, before the Filter node — is the skip signal)
    val flat = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_pztest_flat_twin")
    spark.read.parquet(dir).filter(col("lang") === "en").drop("lang")
      .repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(flat.getPath)
    def scannedRows(d: org.apache.spark.sql.DataFrame): Long = {
      val probe = d
        .filter(col("n_chars").between(50, 150) &&
          col("doc_id").between(0, 150))
        .select("doc_id")
      probe.collect()
      probe.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numOutputRows").value
      }.sum
    }
    val zRows = scannedRows(
      spark.read.parquet(dir).filter(col("lang") === "en"))
    val flatRows = scannedRows(spark.read.parquet(flat.getPath))
    assert(zRows > 0, "predicate selected nothing — test is vacuous")
    assert(zRows < flatRows,
      s"z-ordered partition scan read $zRows rows vs unclustered twin " +
        s"$flatRows — row-group skipping is not happening")
  }

  test("q165: segmented-index search prunes every segment's scan to " +
    "the query terms' buckets (PartitionFilters on tb) and the " +
    "tombstone anti join is a broadcast") {
    val df = SparkEntry.queries("q165_segmented_search")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*tb[#\\w]* IN".r.findFirstIn(p).nonEmpty,
      s"term buckets not pruned at planning time:\n${p.take(1500)}")
    assert(!p.contains("documents.parquet"),
      s"segmented search re-scanned the corpus:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone skip is not a broadcast anti join:\n${p.take(1500)}")
  }

  test("q129 probe path: staged IVF reads ONLY probed cluster cells " +
    "(PartitionFilters) and never re-assigns the raw corpus") {
    val emb = graft.engine.Tables.table(spark, sf001, "embeddings")
    val df = graft.operators.Similarity.ivfTopKStaged(spark, sf001,
      emb, "vec_id < 8", "vec_id < 50", k = 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the candidate scan reads the staged cluster-partitioned index
    // with a planning-time partition prune on the probed cells
    assert(p.contains("graft_ivf_asg_"),
      s"probe does not read the staged index:\n${p.take(1500)}")
    assert("PartitionFilters: \\[cluster[#\\w]* IN".r.findFirstIn(p).nonEmpty,
      s"probed cells not pruned at planning time:\n${p.take(1500)}")
    // index-build work must be OUT of the query path: no scan of the
    // raw embeddings table anywhere in the probe plan
    assert(!p.contains("embeddings.parquet"),
      s"probe re-scans the raw corpus:\n${p.take(1500)}")
  }

  test("q146 probe path: IVF-PQ reads ONLY probed cells of the CODES " +
    "directory and never touches raw vectors") {
    val emb = graft.engine.Tables.table(spark, sf001, "embeddings")
    val df = graft.operators.Similarity.ivfPqTopKStaged(spark, sf001,
      emb, "vec_id < 8", "vec_id < 20", k = 10, nprobe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // candidates come from the staged cluster-partitioned CODES with
    // a planning-time partition prune on the probed cells
    assert(p.contains("graft_pq_codes_"),
      s"probe does not read the staged codes:\n${p.take(1500)}")
    assert("PartitionFilters: \\[cluster[#\\w]* IN".r.findFirstIn(p).nonEmpty,
      s"probed cells not pruned at planning time:\n${p.take(1500)}")
    // neither index-build nor per-candidate vector math in the query
    // path: raw embeddings never scanned
    assert(!p.contains("embeddings.parquet"),
      s"probe re-scans the raw corpus:\n${p.take(1500)}")
  }

  test("q154 re-rank fetch: exact shortlist vectors read ONLY from " +
    "probed cells (PartitionFilters) with the vec_id IN pushdown — " +
    "never an id-only scan of the whole staged index") {
    val emb = graft.engine.Tables.table(spark, sf001, "embeddings")
    val df = graft.operators.Similarity.ivfPqRerankTopK(spark, sf001,
      emb, "vec_id < 8", "vec_id < 20", k = 10, shortlist = 30,
      nprobe = 2)
    df.collect()
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec, so walk the
    // finalized plan STRING: every FileScan prints as one line
    // carrying its own DataFilters/PartitionFilters/Location
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).toSeq
    // the fetch scan is the one pushing the shortlist-id IN filter;
    // it must ALSO carry the probed-cell partition prune — the
    // query-side reads of the same index push the query predicate
    // instead and legitimately span cells
    // >10 shortlist ids ⇒ Catalyst rewrites the IN to INSET
    val fetch = scans.filter(s =>
      s.contains("graft_ivf_asg_") &&
        "vec_id[#\\w]* (IN \\(|INSET )".r.findFirstIn(s).nonEmpty)
    assert(fetch.nonEmpty,
      s"no shortlist fetch scan found:\n${scans.mkString("\n---\n").take(2000)}")
    fetch.foreach(s =>
      assert("PartitionFilters: \\[cluster[#\\w]* IN".r
        .findFirstIn(s).nonEmpty,
        s"re-rank fetch not cell-pruned:\n${s.take(1500)}"))
  }

  test("q147: incremental agg maintenance touches the base only " +
    "through a broadcast semi join — no full re-aggregation join") {
    val df = SparkEntry.queries("q147_incr_agg")(spark, sf001)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    // the affected-keys fetch is the broadcast LeftSemi; the batch
    // keys broadcast, the base never hash-shuffles for it
    assert(p.contains("LeftSemi"), p.take(1500))
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(
      p.replaceAll("\n", " ")).nonEmpty,
      s"affected-keys fetch is not a broadcast semi join:\n${p.take(1500)}")
  }

  test("q148: all row rules over one table fuse into a single scan") {
    import org.apache.spark.sql.functions.col
    val li = graft.engine.Tables.table(spark, sf001, "lineitem")
    val df = graft.operators.Quality.rowRules(li, Seq(
      "a" -> col("l_orderkey").isNull,
      "b" -> !col("l_quantity").between(1, 50),
      "c" -> !col("l_returnflag").isin("A", "N", "R")))
    df.collect()
    // final AQE plan only — the executed-plan string repeats the tree
    // under "== Initial Plan ==", which would double-count scans
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"3 row rules should share ONE scan, found $scans:\n${p.take(1200)}")
  }

  test("q134: merge/upsert anti-joins the update KEYS as a broadcast — " +
    "the base side never shuffles") {
    val df = SparkEntry.queries("q134_merge_upsert")(spark, sf001)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(1500))
    // no hash exchange below the anti join: the only exchange allowed
    // is the final orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"base side shuffled:\n${p.take(2000)}")
  }

  test("q107: k-means E-step is one corpus pass — single broadcast, " +
    "no corpus shuffle before the k-row rollup") {
    val df = SparkEntry.queries("q107_kmeans")(spark, sf001)
    df.collect() // finalize the adaptive plan
    val full = df.queryExecution.executedPlan.toString
    // AQE prints Final + Initial sections; audit only the final plan
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("BroadcastExchange"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the ONLY hash exchange allowed is the k-row cluster rollup (AQE
    // may add none if it collapses to a single partition)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"corpus-side shuffle crept in:\n${p.take(2000)}")
  }

  test("q118: bloom probe filters the big side BELOW the semi join, " +
    "and the bloom build is map-side combined") {
    val p = plan("q118_bloom_prune")
    // the probe must be a Filter on the customer scan feeding the join,
    // keyed by the same xxhash64 the build side aggregates
    assert(p.contains("might_contain"), p.take(1500))
    assert(p.contains("xxhash64(c_custkey"),
      s"bloom probe not on the big side's key:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"), p.take(1500))
    // the filter is a CHILD of the join: in the indented plan tree the
    // join line precedes the might_contain filter line
    val lines = p.linesIterator.toVector
    val joinLn = lines.indexWhere(_.contains("LeftSemi"))
    val probeLn = lines.indexWhere(_.contains("might_contain"))
    assert(joinLn >= 0 && probeLn > joinLn,
      s"bloom probe not below the semi join:\n${p.take(1500)}")
    // bloom build: partial aggregate before the single-partition merge
    assert(p.contains("partial_bloom_filter_agg"),
      s"bloom build not map-side combined:\n${p.take(1500)}")
  }

  test("q119: region rollup merges nation SKETCHES — customer scanned " +
    "once, sketch agg partial'd map-side") {
    val p = plan("q119_hll_rollup")
    assert(p.contains("partial_hll_sketch_agg"),
      s"sketch build not map-side combined:\n${p.take(1500)}")
    assert(p.contains("hll_union_agg"),
      s"region level must union sketches, not rescan:\n${p.take(1500)}")
    val scans = "customer.parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"customer scanned $scans times (expected 1):\n${p.take(1500)}")
  }

  test("q120: heavy-hitter audit reads the corpus exactly twice " +
    "(sketch pass + exact pass), ranks over post-agg rows only") {
    val p = plan("q120_approx_topk")
    assert(p.contains("approx_top_k"), p.take(1500))
    val scans = "documents.parquet".r.findAllIn(p).length
    assert(scans == 2,
      s"documents scanned $scans times (expected 2):\n${p.take(2000)}")
    // the rank window must sit above the vocabulary aggregate, never
    // the raw token stream: exactly 2 corpus explodes (one per pass —
    // the third Generate is inline() over the k-row sketch array)
    val explodes = "Generate explode".r.findAllIn(p).length
    assert(explodes == 2,
      s"token stream exploded $explodes times:\n${p.take(2000)}")
  }

  test("q104: encode joins the corpus against a BROADCAST dictionary") {
    val df = SparkEntry.queries("q104_bpe_encode")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"dictionary join must broadcast:\n${p.take(1500)}")
    // (the 1-row winner rewrites inside the dict chain ARE broadcast
    // nested-loop crossJoins by design; no CartesianProduct anywhere)
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q179: the facet's stored-field read is the doc-values path — " +
    "column-pruned to (doc_id, field), text never leaves disk; " +
    "postings stay bucket-pruned") {
    val df = SparkEntry.queries("q179_facet")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // SOME scan reads exactly the doc_id+source columns of the stored
    // parquet — the text column must be pruned out of it
    assert(p.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("source") && !l.contains("text")),
      s"stored read is not column-pruned to the facet field:\n${p.take(2000)}")
    assert("PartitionFilters: \\[.*tb[#\\w]* IN".r.findFirstIn(p).nonEmpty,
      s"postings not bucket-pruned:\n${p.take(1500)}")
    assert(!p.contains("documents.parquet"),
      s"facet re-scanned the corpus:\n${p.take(1500)}")
  }

  test("q185: field-sorted search is a TakeOrderedAndProject over a " +
    "column-pruned stored read — never a full sort, text untouched") {
    val df = SparkEntry.queries("q185_sorted_search")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"field sort is not a top-k:\n${p.take(1500)}")
    assert(p.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("n_chars") && !l.contains("text")),
      s"sort-field read is not column-pruned:\n${p.take(2000)}")
    assert(!p.contains("documents.parquet"),
      s"sorted search re-scanned the corpus:\n${p.take(1500)}")
  }

  test("q182: federated search keeps every per-index scan " +
    "bucket-pruned and adds no corpus scan — federation costs no " +
    "extra read") {
    val df = SparkEntry.queries("q182_multi_index_search")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*tb[#\\w]* IN".r
      .findAllIn(p).size >= 2,
      s"both indices' scans must carry tb partition filters:\n${p.take(2000)}")
    assert(!p.contains("documents.parquet"),
      s"federated search re-scanned the corpus:\n${p.take(1500)}")
  }

  test("q123: corpus gram stream reaches the broadcast probe unshuffled") {
    val df = SparkEntry.queries("q123_decontaminate")(spark, sf001)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lines = p.linesIterator.toVector
    val joinLn = lines.indexWhere(_.contains("BroadcastHashJoin"))
    assert(joinLn >= 0, p.take(1500))
    val bcastLn = lines.indexWhere(_.contains("BroadcastExchange"), joinLn)
    assert(bcastLn > joinLn, p.take(1500))
    // in the pre-order dump the streamed (corpus) subtree is exactly
    // the lines between the join and its build side's
    // BroadcastExchange: scan → explode → project, NO exchange — the
    // 100 TB posture (all hash exchanges sit above, in the rollup)
    val streamed = lines.slice(joinLn + 1, bcastLn)
    assert(!streamed.exists(_.contains("Exchange")),
      s"corpus side shuffles before the probe:\n${streamed.mkString("\n")}")
    // the benchmark-side dedup lives under the broadcast (tiny side)
    assert(lines.drop(bcastLn).exists(_.contains("HashAggregate")),
      p.take(2000))
  }

  test("q257: matrix_stats is ONE scan + one partial+final reduce — " +
    "the pair matrix never rescans") {
    val p = plan("q257_matrix_stats")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one lineitem scan, saw $scans:\n" +
      p.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
    // column pruning: only the three requested columns are read
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") &&
      !readSchema.contains("l_orderkey"), readSchema)
  }

  test("q249: date_histogram's gap-fill is a sequence explode, not " +
    "a driver loop, and the status predicate pushes down") {
    val p = plan("q249_date_histogram")
    assert(p.contains("sequence(") || p.contains("Generate"),
      p.take(1500))
    assert(p.contains("o_orderstatus,F") ||
      p.contains("o_orderstatus, F") ||
      p.contains("EqualTo(o_orderstatus,F)"),
      "status predicate did not reach PushedFilters:\n" + p.take(1500))
  }

  test("q334: the six-processor ingest pipeline is ONE map-side " +
    "projection — no Exchange, no extra scan, the id predicate " +
    "pushed down") {
    val p = plan("q334_ingest_pipeline")
    assert(!p.contains("Exchange hashpartitioning"),
      "the pipeline must not shuffle:\n" + p.take(1500))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one documents scan, saw $scans")
    assert(p.contains("PushedFilters") && p.contains("LessThan"),
      "the doc_id slice predicate did not push down:\n" + p.take(1200))
  }

  test("q340: RAG chunking is shuffle-free map-side work " +
    "(sequence/slice inside Generate stages)") {
    val p = plan("q340_rag_chunking")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking must not shuffle:\n" + p.take(1500))
    assert(p.contains("Generate"), p.take(1200))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one documents scan, saw $scans")
  }

  test("q347: the intervals tree is ONE doc-keyed shuffle + one " +
    "interval_tree call — the round-17 per-term position self-join " +
    "chain (and its guard pass) is gone") {
    graft.queries.LlmSurface.segIndexDir(spark, sf001)
    val df = SparkEntry.queries("q347_intervals_prefix")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("interval_tree"),
      "expected the interval_tree expression in the plan:\n" +
        p.take(1200))
    // matched-term rows shuffle ONCE (groupBy doc_id); the old plan
    // chained a position self-join per term (≥ one join + exchange
    // per leaf) and SortMergeJoin never appears now
    assert(!p.contains("SortMergeJoin"),
      "the position self-join chain is back:\n" + p.take(1500))
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"expected at most 2 doc-keyed exchanges (partial+final agg " +
        s"boundary), saw $exchanges:\n" + p.take(1500))
  }

  test("q350: the EQL sequence pushes each stage's event_type " +
    "equality to its scan and never plans a full-table Window or " +
    "cartesian product") {
    val df = SparkEntry.queries("q350_eql_sequence")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "sequence must not window the whole event table:\n" +
        p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "sequence must not cross-join:\n" + p.take(1500))
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("event_type")),
      "stage event_type predicates did not push down:\n" +
        p.take(1500))
  }

  test("q356: Apriori caches its level frames for the duration of " +
    "the call ONLY — no persisted RDD survives the return (the " +
    "rescoreChain lifetime discipline), and the result is the " +
    "k-bounded materialized frame") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("q356_frequent_item_sets")(spark, sf001)
    val rows = df.collect()
    assert(rows.length <= 60 && rows.nonEmpty)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"frequentItemSets leaked cached frames: ${after -- before}")
  }

  test("q314: the nested query's postings reads are planning-time " +
    "bucket-pruned (tb PartitionFilters) and the stored reads are " +
    "column-pruned to the relation columns") {
    // the staged fixture must exist before the plan is inspected
    graft.queries.LlmSurface.segIndexNestedDir(spark, sf001)
    graft.queries.LlmSurface.segIndexDir(spark, sf001)
    val df = SparkEntry.queries("q314_nested_query")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(tb"),
      "postings read lost its tb pruning:\n" + p.take(1500))
    // at least one stored read carries ONLY the relation columns
    // (doc_id, parent_id/author) — the text column never loads
    val storedReads = p.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(storedReads.exists(l =>
      l.contains("parent_id") && !l.contains("text")),
      "relation stored read was not column-pruned:\n" +
        storedReads.mkString("\n"))
  }
}
