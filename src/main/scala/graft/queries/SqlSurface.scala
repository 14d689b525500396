package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.gate.QueryGate
import graft.operators.{GraphOps, Indexer, TextOps}

/** The delegated SELECT surface (SURVEY §2.2).
  *
  * The reference admits arbitrary SELECTs through its gate
  * (`api/controllers/query_controller.go:26-35`) and executes them in an
  * external MySQL/Postgres (`query_controller.go:98`). Parity = this engine
  * executes that surface itself; each entry below covers one grammar
  * category, expressed with the declarative DataFrame API (or `spark.sql`
  * through [[QueryGate]] for the categories that are more natural as SQL)
  * so Catalyst supplies pushdown/pruning/join-selection.
  *
  * Determinism contract for the DuckDB oracle diff:
  *  - every query ends in an ORDER BY over a unique key chain;
  *  - NULL ordering is explicit where rollup/cube emit NULL group keys
  *    (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST);
  *  - monetary aggregates are computed in DECIMAL(18,4) and cast to
  *    double: decimal sums are exact and order-independent, so results are
  *    bitwise identical across engines AND across shuffle orders — double
  *    summation would drift by ULPs per partition ordering, and cross-
  *    engine `round()` half-cases differ (Spark HALF_UP vs DuckDB's
  *    float rounding). This matters doubly at cluster scale, where
  *    partition count changes between runs.
  */
/** Typed row for the Dataset-API query (q73). */
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                          o_totalprice: Double, o_orderstatus: String)

object SqlSurface {
  type Q = (SparkSession, String) => DataFrame

  private val DEC = "decimal(18,4)"
  private def dec(c: Column): Column = c.cast(DEC)
  /** Exact sum of a money-like double column, returned as double. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  /** Exact-sum average (sum/count in double — identical in both engines). */
  private def davg(c: Column): Column =
    sum(dec(c)).cast("double") / count(lit(1))
  /** l_extendedprice * (1 - l_discount), exactly, in decimal. */
  private def revenueDec: Column =
    dec(col("l_extendedprice")) * (lit(1).cast(DEC) - dec(col("l_discount")))

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** Staged ingest artifacts for the SQL surface — fixture-keyed,
    * built at most once (see [[graft.SparkEntry.stage]]); query entries
    * call these and get the staged copy back for free, or a
    * build-on-first-use on a cold catalog.
    */
  def ensureBucketedLineitem(s: SparkSession, d: String): String =
    graft.engine.Bucketing.ensureBucketed(s, d,
      t(s, d, "lineitem").select("l_orderkey", "l_extendedprice",
        "l_discount"),
      "graft_bkt_lineitem", 8, Seq("l_orderkey"))

  def ensureBucketedOrders(s: SparkSession, d: String): String =
    graft.engine.Bucketing.ensureBucketed(s, d,
      t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
      "graft_bkt_orders", 8, Seq("o_orderkey"))

  def ensureZorderedLineitem(s: SparkSession, d: String): String = {
    // the staged copy outlives the JVM (tmp-dir memo), so its key must
    // change when the SOURCE fixture is regenerated at the same path —
    // fold the source file's stat into the fixture key
    val src = new java.io.File(s"$d/lineitem.parquet")
    graft.engine.Bucketing.ensureZordered(s,
      s"$d|${src.lastModified}|${src.length}", t(s, d, "lineitem"),
      Seq("l_partkey", "l_suppkey"), "lineitem")
  }

  def ensureZonemappedLineitem(s: SparkSession, d: String): String = {
    // same outlives-the-JVM contract as the z-order stage: fold the
    // source file's stat into the fixture key
    val src = new java.io.File(s"$d/lineitem.parquet")
    graft.engine.ZoneMap.ensureZonemapped(s,
      s"$d|${src.lastModified}|${src.length}", t(s, d, "lineitem"),
      rangeCol = "l_partkey", bloomCol = "l_orderkey", "lineitem")
  }

  /** q155's ingest half (also staged up front): a DEDICATED zone map
    * (`#append`-suffixed key, so q141's shared map never sees
    * appended rows) plus one idempotent appended batch — order 777's
    * rows shifted to orderkey 10000777, the deterministic stand-in
    * for newly-ingested facts.
    */
  def zonemapAppendStage(s: SparkSession, d: String): String = {
    val src = new java.io.File(s"$d/lineitem.parquet")
    val dir = graft.engine.ZoneMap.ensureZonemapped(s,
      s"$d|${src.lastModified}|${src.length}#append",
      t(s, d, "lineitem"),
      rangeCol = "l_partkey", bloomCol = "l_orderkey", "lineitem_app")
    graft.engine.ZoneMap.appendOnce(s, dir,
      t(s, d, "lineitem").filter(col("l_orderkey") === 777)
        .withColumn("l_orderkey", col("l_orderkey") + lit(10000000L)),
      "l_partkey", "l_orderkey", batchKey = "batch1")
  }

  /** DuckDB twin of TextOps.bpeLoop: the merge-learning CTE chain,
    * unrolled through `rounds` rounds. Yields CTEs `wd, d0,
    * p1, w1, d1, …, p<r>, w<r>, d<r>` — `w<i>` is round i's winning
    * pair, `d<i>` the dictionary after applying it. Same
    * dictionary/pair-count/argmax/greedy-replace scheme with every
    * symbol individually chr(31)-wrapped, so each pair match is
    * self-contained and plain replace = classic greedy BPE (see
    * TextOps.bpeMerges for why single sentinels would be wrong).
    * Shared by the q102 (merge table) and q104 (encode) oracles so the
    * chain has exactly one encoding.
    */
  private def dkBpeChain(rounds: Int): String = {
    val head =
      """wd AS (
        |  SELECT w AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        | d0 AS MATERIALIZED (SELECT word, cnt,
        |   array_to_string(list_transform(string_split(word, ''),
        |     c -> chr(31) || c || chr(31)), '') AS seq FROM wd)""".stripMargin
    val steps = (1 to rounds).map { i =>
      // each d(i-1) is referenced twice (pair counting + rewrite);
      // MATERIALIZED stops DuckDB inlining the dictionary chain into an
      // exponentially duplicated scan tree — at 64 rounds the inlined
      // form exhausts file handles before it finishes planning.
      // LEFT JOIN ON TRUE, not a cross join: once merges exhaust (every
      // word one symbol), w_i is EMPTY — a cross join would collapse
      // d_i to zero rows and cascade an empty oracle, while the Scala
      // loop stops early and keeps the dictionary; the guard keeps the
      // two engines at the same fixed point for any round count
      s""" p$i AS (SELECT z[1] AS l, z[2] AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_zip(syms[:-1], syms[2:])) AS z
         |    FROM (SELECT cnt, string_split(trim(seq, chr(31)), chr(31) || chr(31)) AS syms FROM d${i - 1}))
         |   WHERE z[2] IS NOT NULL GROUP BY z[1], z[2]),
         | w$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         | d$i AS MATERIALIZED (SELECT word, cnt,
         |    CASE WHEN w.l IS NULL THEN seq ELSE
         |      replace(seq, chr(31) || w.l || chr(31) || chr(31) || w.r || chr(31),
         |                   chr(31) || w.l || w.r || chr(31)) END AS seq
         |   FROM d${i - 1} LEFT JOIN w$i w ON TRUE)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** DuckDB twin of TextOps.bpeEncode at `rounds`: the merge chain's
    * final dictionary shipped back onto the corpus words (shared by the
    * q104 round-5 and q113 round-64 oracles).
    */
  private def dkBpeEncodeSql(rounds: Int): String =
    s"WITH ${dkBpeChain(rounds)},\n" +
      s""" enc AS (SELECT word,
         |   len(string_split(trim(seq, chr(31)), chr(31) || chr(31))) AS n_sub
         |  FROM d$rounds),
         | dw AS (SELECT doc_id, w AS word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE w <> '')
         |SELECT dw.doc_id,
         |  count(*) AS n_words,
         |  CAST(sum(len(dw.word)) AS BIGINT) AS n_chars,
         |  CAST(sum(enc.n_sub) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN enc ON dw.word = enc.word
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** Run SQL through the reference-parity gate (exercises O2-O7 and the
    * O15/O16 request-log line, emitted to stderr per gated query). */
  private def gated(s: SparkSession, d: String, sql: String): DataFrame = {
    Tables.register(s, d)
    QueryGate.runLogged(s, "parquet", d, sql)
  }

  /** q43_approx_distinct over any lineitem frame (its comment below
    * states the contract); ApproxSpec feeds it re-partitioned input. */
  def approxDistinct(lineitem: DataFrame): DataFrame = {
    // Beside countDistinct, the sketch runs through Spark's distinct-
    // aggregate rewrite, which hands its estimate back nullable. A
    // coalesce would be optimized away before that rewrite; greatest
    // with 0 is not, changes no value (an estimate is never negative)
    // and keeps the booleans non-nullable, as they were under HLL++.
    def withinTol(c: String): Column =
      (abs(greatest(hll_sketch_estimate(hll_sketch_agg(col(c), 14)), lit(0L)) -
        countDistinct(col(c))).cast("double") <
        countDistinct(col(c)).cast("double") * lit(0.05))
    lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        withinTol("l_partkey").as("parts_within_tol"),
        withinTol("l_orderkey").as("orders_within_tol"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, Q] = Map(
    // --- aggregation: partial/final hash agg (TPC-H Q1 shape) ---
    "q01_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenueDec).cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // --- scan + filter + projection (pushdown-visible) ---
    "q02_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") > 0.05 && col("l_quantity") < 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          revenueDec.cast("double").as("revenue"),
          col("l_returnflag"))
        // all output columns in the sort: (orderkey, linenumber) is
        // NOT unique in the fixtures, and a tie with different
        // revenue would flake the row-wise oracle compare
        .orderBy("l_orderkey", "l_linenumber", "revenue",
          "l_returnflag")),

    // --- multi-way join + agg + top-k, with explicit broadcast of the
    //     small dimension (TPC-H Q3 shape) ---
    "q03_join_topk" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(revenueDec).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // --- semi join (EXISTS): late-shipped orders per priority ---
    "q04_semijoin" -> ((s, d) => {
      val o = t(s, d, "orders"); val l = t(s, d, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // --- anti join (NOT EXISTS): customers with no URGENT order ---
    "q05_antijoin" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // --- left outer join + null-aware agg ---
    "q06_outerjoin" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    }),

    // --- theta (non-equi) join → broadcast nested loop ---
    "q07_thetajoin" -> ((s, d) => {
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      n.join(r, n("n_regionkey") < r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    }),

    // --- DISTINCT / count distinct ---
    "q08_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // --- ROLLUP ---
    "q09_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // --- CUBE ---
    "q10_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))),

    // --- window functions: row_number / rank / lag / running frame ---
    "q11_window" -> ((s, d) => {
      // (l_orderkey, l_linenumber) can repeat in the synthetic data, so
      // extend the ordering until unique — lag/running-sum are order-
      // dependent and must match the oracle row-for-row.
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 45)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rnk",
          rank().over(Window.partitionBy("l_suppkey")
            .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
              asc("l_linenumber"))).cast("long"))
        .withColumn("prev_qty", lag("l_quantity", 1).over(w))
        .withColumn("running_qty", sum(dec(col("l_quantity")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
    }),

    // --- global sort + limit → TakeOrderedAndProject ---
    "q12_topk" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
          asc("l_linenumber"))
        .limit(20)),

    // --- set ops: UNION (distinct) + EXCEPT ---
    "q13_union_except" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val a = o.filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("custkey"))
      val b = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val x = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      a.union(b).distinct().except(x).orderBy("custkey")
    }),

    // --- set ops: INTERSECT + UNION ALL ---
    "q14_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val b = o.filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("custkey"))
      a.intersect(b)
        .unionAll(o.filter(col("o_custkey") === 1)
          .select(col("o_custkey").as("custkey")).distinct())
        .orderBy("custkey")
    }),

    // --- scalar string/date/math functions ---
    "q15_scalar_fns" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
            .as("status_prio"),
          length(col("o_orderpriority")).cast("long").as("prio_len"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          abs(col("o_totalprice") - 100000.0).as("dist100k"),
          (col("o_orderkey") % 7).as("k_mod7"),
          sqrt(col("o_totalprice")).as("sqrt_price"),
          floor(col("o_totalprice") / 1000).cast("long").as("price_k"))
        .orderBy("o_orderkey")),

    // --- JSON extraction (events.props) + agg over extracted field ---
    "q16_json" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("k_sum"),
          davg(col("value")).as("avg_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // --- CASE expression + min/max agg ---
    "q17_case" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("bucket")),

    // --- scalar + correlated subqueries (SQL via the gate) ---
    "q18_subquery" -> ((s, d) => gated(s, d,
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin)),

    // --- grouping()/grouping_id(): the subtotal-row disambiguators
    //     that make CUBE output machine-consumable (a NULL key could
    //     otherwise be a real NULL or a rollup line) ---
    "q92_grouping_fns" -> ((s, d) => gated(s, d,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS g_id,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_id, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin)),

    // --- bigram collocation mining ("lift" = P(xy)/(P(x)P(y)), the
    //     monotone core of PMI): tokens via posexplode, bigrams via a
    //     per-doc lead() window, then two broadcast joins against the
    //     unigram counts. All counts are exact integers and the single
    //     fp op (one double division of exactly-representable ints) is
    //     IEEE-identical across engines — no log(), no tolerance ---
    "q95_collocations" -> ((s, d) => gated(s, d,
      """WITH toks AS (
        |  SELECT doc_id, pos, col AS tok
        |  FROM (SELECT doc_id, posexplode(split(text, ' '))
        |        FROM documents)),
        | bi AS (
        |  SELECT tok AS w1,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks),
        | big AS (SELECT w1, w2, count(*) AS n_xy FROM bi
        |         WHERE w2 IS NOT NULL GROUP BY w1, w2),
        | uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        | tot AS (SELECT sum(n_xy) AS nb FROM big)
        |SELECT w1, w2, n_xy,
        |  CAST(n_xy * nb AS DOUBLE) / CAST(u1.n * u2.n AS DOUBLE) AS lift
        |FROM big JOIN uni u1 ON big.w1 = u1.tok
        |         JOIN uni u2 ON big.w2 = u2.tok
        |         CROSS JOIN tot
        |WHERE n_xy >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin)),

    // --- mode + discrete percentile with DETERMINISTIC tie-breaks:
    //     built-in mode() breaks ties arbitrarily in both engines, so
    //     both statistics are spelled as windows — mode = rank-1 of
    //     (count DESC, value ASC), p50_disc = the value at sorted
    //     position ceil(0.5·n). One SQL text serves Spark and DuckDB ---
    "q100_mode_percentile" -> ((s, d) => gated(s, d, ModePercentileSql)),

    // --- schema-evolution union: two generations of a feed with
    //     drifted columns, aligned BY NAME with missing columns
    //     null-filled (Spark unionByName(allowMissingColumns) ↔ DuckDB
    //     UNION ALL BY NAME) — the append-only ingestion posture where
    //     upstream adds/drops fields between batches ---
    "q98_union_by_name" -> ((s, d) => {
      val o = t(s, d, "orders")
      val gen1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val gen2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      gen1.unionByName(gen2, allowMissingColumns = true)
        .orderBy("o_orderkey")
    }),

    // --- triangle counting + local clustering on the co-purchase
    //     graph (parts sharing an order at significant quantity):
    //     degree-ordered "forward" orientation bounds the wedge join at
    //     O(m^1.5) under ANY degree skew — see GraphOps.triangleStats ---
    "q97_triangles" -> ((s, d) => {
      val l = t(s, d, "lineitem").filter(col("l_quantity") >= 30)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = l.select(col("l_orderkey"), col("l_partkey").as("src"))
        .join(l.select(col("l_orderkey"), col("l_partkey").as("dst")),
          Seq("l_orderkey"))
        .filter(col("src") < col("dst"))
        .select("src", "dst").distinct()
      GraphOps.triangleStats(edges).orderBy("node_id")
    }),

    // --- bounded-iteration PageRank on the symmetrized co-purchase
    //     graph, fixed-point integer arithmetic: every contribution is
    //     an explicit exact floor division, so ranks are bitwise
    //     engine-identical — floating PageRank would hash-diverge on
    //     summation order alone. See GraphOps.pageRank ---
    "q101_pagerank" -> ((s, d) => {
      val l = t(s, d, "lineitem").filter(col("l_quantity") >= 40)
        .select(col("l_orderkey"), col("l_partkey"))
      // both directions straight from the self-join (src != dst), NOT
      // canonical-pairs-then-union — a union would evaluate the
      // self-join subtree twice in the edge-cache fill
      val directed = l.select(col("l_orderkey"), col("l_partkey").as("src"))
        .join(l.select(col("l_orderkey"), col("l_partkey").as("dst")),
          Seq("l_orderkey"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      GraphOps.pageRank(directed, iterations = 3).orderBy("node_id")
    }),

    // --- true BPE merge learning, 5 bounded rounds over the word-
    //     frequency dictionary (the Sennrich dictionary trick: one
    //     corpus pass, then a vocabulary-sized loop) — exact integer
    //     pair counts, total-ordered tie-breaks, greedy left-to-right
    //     merges. See TextOps.bpeMerges ---
    "q102_bpe_merges" -> ((s, d) =>
      TextOps.bpeMerges(t(s, d, "documents"), rounds = 5)),

    // --- tokenizer ENCODE: the 5 learned merges applied back to the
    //     corpus via the encoded word dictionary (vocabulary-sized,
    //     broadcast) — per-doc subword counts; the corpus pays one
    //     explode + broadcast join + partial-agg rollup, no other
    //     shuffle. See TextOps.bpeEncode ---
    "q104_bpe_encode" -> ((s, d) =>
      TextOps.bpeEncode(t(s, d, "documents"), rounds = 5)),

    // --- the production tokenizer shape: a 64-round merge table
    //     learned and applied in one call. Same one-corpus-pass
    //     dictionary trick; the loop floor is 64 sequential
    //     vocabulary-sized jobs (data-dependent rounds cannot
    //     parallelize), with the dict checkpointed every 8 rounds so
    //     lineage and re-evaluation stay bounded at any round count ---
    "q113_bpe_encode64" -> ((s, d) =>
      TextOps.bpeEncode(t(s, d, "documents"), rounds = 64)),

    // --- multiple DISTINCT aggregates in one pass: Catalyst's Expand
    //     rewrite fans each row out once per distinct-column set, so
    //     the query stays ONE shuffle pipeline (partial-agg'd) instead
    //     of one self-join per distinct aggregate — the plan shape that
    //     survives 100 TB is asserted in PlanSpec ---
    "q114_multi_distinct" -> ((s, d) => gated(s, d,
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // --- IGNORE NULLS navigation: forward-fill ("most recent big
    //     order's price as of each order") — the sparse-metadata
    //     propagation every curation pipeline needs; one partitioned
    //     window, no self-join, NULL until the first qualifying row ---
    "q115_ignore_nulls" -> ((s, d) => gated(s, d,
      """SELECT o_orderkey, o_custkey,
        |  last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END) IGNORE NULLS
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_price
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // --- ANSI FILTER clause: per-aggregate predicates in one
    //     aggregation pass (no CASE-WHEN contortions, no second scan) ---
    "q116_filter_agg" -> ((s, d) => gated(s, d,
      """SELECT o_orderstatus,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_value
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // --- LATERAL correlated subquery join: per-outer-row dependent
    //     subquery with its own ORDER BY + LIMIT ("top-2 orders per
    //     customer") — the decorrelated-join operator family; Catalyst
    //     rewrites the inner LIMIT into a partitioned rank, so no
    //     per-row subquery execution survives into the physical plan ---
    "q93_lateral" -> ((s, d) => gated(s, d,
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),

    // --- EXISTS over a correlated ORDER BY/LIMIT subquery: "does any of
    //     this customer's top-3 orders (by price) carry URGENT priority".
    //     The LIMIT is load-bearing (priority ≠ the ordering column), so
    //     Catalyst must decorrelate it into a partitioned row_number rank
    //     feeding a semi join — no per-outer-row subquery execution ---
    "q111_exists_lateral" -> ((s, d) => gated(s, d,
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE c_custkey <= 300 AND EXISTS (
        |  SELECT 1 FROM (SELECT o_orderpriority FROM orders
        |                 WHERE o_custkey = c.c_custkey
        |                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |  WHERE t.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    // --- LATERAL with a scalar aggregate: one row per outer row even
    //     for order-less customers (count=0, sum=NULL). Decorrelates to
    //     a partial+final hash agg over orders + one outer domain join —
    //     the per-row dependent aggregation never survives planning ---
    "q112_lateral_agg" -> ((s, d) => gated(s, d,
      """SELECT c_custkey, t.n_orders, t.total_spend
        |FROM customer c,
        |LATERAL (SELECT count(*) AS n_orders,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        |         FROM orders WHERE o_custkey = c.c_custkey) t
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin)),

    // --- 6-table star join (TPC-H Q5 shape): region→nation prune the
    //     fact flow; only the two genuinely tiny dims carry broadcast
    //     hints (region 5 rows, nation 25 — broadcastable at ANY SF),
    //     while customer/supplier joins are left to AQE, which
    //     broadcasts them at bench SFs but can fall back to shuffle at
    //     100 TB where a 1B-row dim would OOM a forced broadcast ---
    "q94_star_join" -> ((s, d) => {
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      val sup = t(s, d, "supplier")
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, sup("s_suppkey") === l("l_suppkey") &&
          sup("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(revenueDec).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // --- navigation window functions: lead/lag/first_value + per-key
    //     event spacing (the order-stream shape q11/q69/q70 don't
    //     cover) ---
    "q91_leadlag" -> ((s, d) => gated(s, d,
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_order,
        |  lead(o_orderkey) OVER w AS next_order,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  CAST(datediff(o_orderdate, lag(o_orderdate) OVER w) AS BIGINT)
        |    AS days_since_prev
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // --- bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep
    //     multiplicities (q13/q14 cover the DISTINCT-semantics family;
    //     bags are the variant dedup accounting actually needs) ---
    "q89_setops_all" -> ((s, d) => gated(s, d,
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem
        |           WHERE l_quantity < 10),
        | b AS (SELECT l_suppkey AS k FROM lineitem
        |       WHERE l_returnflag = 'R')
        |SELECT 'except_all' AS op, k, count(*) AS n
        |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
        |UNION ALL
        |SELECT 'intersect_all' AS op, k, count(*) AS n
        |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
        |ORDER BY op, k""".stripMargin)),

    // --- recursive CTE (Spark 4 WITH RECURSIVE): per-customer order
    //     stream folded into a rolling fingerprint — a modular
    //     recurrence fp_n = (fp_{n-1}*131 + v_n) mod p that NO window
    //     function can express (non-associative under the mod);
    //     exact integer arithmetic ⇒ engine-identical. The chain is
    //     bounded to the first 8 orders per customer: recursion depth
    //     IS the iteration count on any engine, so a production chain
    //     fold states its depth bound explicitly. ---
    "q88_recursive_chain" -> ((s, d) => gated(s, d,
      """WITH RECURSIVE base AS (
        |  SELECT o_custkey,
        |    CAST(floor(CAST(o_totalprice AS DECIMAL(18,4))) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey <= 50),
        | r AS (
        |  SELECT o_custkey, rn, v % 1000003 AS fp FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.o_custkey, b.rn, (r.fp * 131 + b.v) % 1000003 AS fp
        |  FROM r JOIN base b ON b.o_custkey = r.o_custkey
        |    AND b.rn = r.rn + 1 AND b.rn <= 8)
        |SELECT o_custkey, CAST(max(rn) AS BIGINT) AS n_orders,
        |  max(named_struct('rn', rn, 'fp', fp)).fp AS chain_fp
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    "q19_subquery_corr" -> ((s, d) => gated(s, d,
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE s_acctbal > (SELECT avg(c_acctbal) FROM customer c
        |                   WHERE c.c_nationkey = s.s_nationkey)
        |ORDER BY s_suppkey""".stripMargin)),

    // --- GROUPING SETS (SQL via the gate) ---
    "q20_groupingsets" -> ((s, d) => gated(s, d,
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin)),

    // --- HAVING ---
    "q21_having" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(dsum(col("l_quantity")).as("total_qty"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 35)
        .orderBy("l_partkey")),

    // --- time bucketing over the events table (batch window) ---
    "q22_timebucket" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
        .groupBy("hour_ts", "event_type")
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .orderBy("hour_ts", "event_type")),

    // --- FULL OUTER join: all customers x all nations-of-orders ---
    "q39_fullouter" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"))
      val o = t(s, d, "orders").filter(col("o_totalprice") > 250000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_custkey"),
          col("n_big"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_custkey"))
    }),

    // --- CROSS join (small x small) ---
    "q40_crossjoin" -> ((s, d) => {
      val r = t(s, d, "region").select(col("r_name"))
      val n = t(s, d, "nation").filter(col("n_nationkey") < 5)
        .select(col("n_name"))
      r.crossJoin(n).orderBy("r_name", "n_name")
    }),

    // --- RIGHT OUTER join ---
    "q41_rightjoin" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice") > 280000)
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // --- from_json: parse the events props payload into a struct ---
    "q42_from_json" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))))
        .groupBy((col("p.k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("p.k")).as("k_sum"))
        .orderBy(asc_nulls_first("k_mod"))),

    // --- approximate distinct count (DataSketches HLL, the engine's one
    //     cardinality sketch, shared with q119). Sketch
    //     ESTIMATES are engine-specific, so the oracled output is the
    //     exact counts plus a boolean ≤5%-relative-error check per
    //     estimate: DuckDB oracles the exact columns and literal TRUE,
    //     turning the tolerance assertion itself into a hash-checked row
    //     (ApproxSpec additionally exercises the bound in-process). ---
    //     lgK=14 (2^14 registers) has a relative standard error of about
    //     0.8%, so the 5% bound is a ~6-sigma contract. The sketch is one
    //     binary aggregation buffer; Spark's HLL++ (approx_count_distinct)
    //     keeps one long column per 10 registers, 3278 buffer columns per
    //     aggregate here, paid on every execution and on every row the
    //     distinct-aggregate Expand emits. DataSketches unions are not
    //     partition-invariant the way HLL++'s register max is, so the
    //     estimate can move slightly with input and shuffle partitioning;
    //     ApproxSpec holds the 5% bound across both.
    "q43_approx_distinct" -> ((s, d) => approxDistinct(t(s, d, "lineitem"))),

    // --- exact percentiles (sort-based; linear interpolation both
    //     engines) ---
    "q49_quantiles" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("q50"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
        .orderBy("l_returnflag")),

    // --- approximate percentile sketch (KLL/GK-style), q43's pattern:
    //     the output embeds its own accuracy contract. accuracy=10000
    //     bounds rank error at n/10000 (~60 rows of 600k), so the
    //     sketch value must land between the exact p±0.01 quantiles —
    //     stated as literal TRUE in the oracle, a drifting sketch
    //     fails the hash check. The exact percentiles are sort-based
    //     and interpolation-identical across engines (q49). ---
    "q117_approx_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
          expr("percentile_approx(l_extendedprice, 0.5, 10000) BETWEEN " +
            "percentile(l_extendedprice, 0.49) AND " +
            "percentile(l_extendedprice, 0.51)").as("p50_within_tol"),
          expr("percentile_approx(l_extendedprice, 0.9, 10000) BETWEEN " +
            "percentile(l_extendedprice, 0.89) AND " +
            "percentile(l_extendedprice, 0.91)").as("p90_within_tol"))
        .orderBy("l_returnflag")),

    // --- explicit Bloom-pruned semi join: the 100 TB shuffle-pruning
    //     pattern stated in the query itself. `graft_bloom_agg` (Spark's
    //     runtime-filter aggregate, surfaced via GraftFunctions) builds
    //     one tiny binary over the small side's hashed keys as a scalar
    //     subquery; `graft_bloom_might_contain` probes it on the big side's
    //     scan BEFORE the join, so the shuffle carries ~|matches| +
    //     fp·|big| rows instead of |big|. No false negatives ⇒ the
    //     trailing exact IN-subquery restores precise semantics, and
    //     the result is hash-identical to the plain semi join the
    //     oracle states.
    //     SIZING is explicit: the 2-arg form pins expectedItems
    //     (4M = Spark's runtime-filter cap → 32M bits / 4 MB binary,
    //     ~2% fp at capacity) instead of inheriting the 1M-item
    //     default, which a 100 TB dim side would silently outgrow —
    //     past capacity the fp rate (and the pruning) degrades with no
    //     error (BloomFunctionsSpec measures this). expectedItems must
    //     be a literal (the aggregate requires a foldable size), so at
    //     scale it comes from table stats / the planner's ndv estimate,
    //     not a count pass. ---
    "q118_bloom_prune" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      gated(s, d,
        """WITH dim AS (
          |  SELECT o_custkey FROM orders
          |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000)
          |SELECT c_custkey, c_name
          |FROM customer
          |WHERE graft_bloom_might_contain(
          |        (SELECT graft_bloom_agg(xxhash64(o_custkey), 4000000)
          |         FROM dim),
          |        xxhash64(c_custkey))
          |  AND c_custkey IN (SELECT o_custkey FROM dim)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // --- mergeable-sketch rollup (DataSketches HLL): sketch each
    //     nation's customers ONCE, then roll nation sketches up to
    //     regions with a register-max union — the "sketch at ingest,
    //     merge at any granularity later" posture that replaces a
    //     second full-corpus distinct pass at 100 TB. Estimates carry
    //     a 5% accuracy contract (lgK=12 ⇒ ~1.6% RSE, so 5% is ~3σ);
    //     exact counts ride along because c_custkey is unique, making
    //     per-nation distincts disjoint and summable. ---
    "q119_hll_rollup" -> ((s, d) => gated(s, d,
      """WITH nat AS (
        |  SELECT c_nationkey,
        |         hll_sketch_agg(c_custkey) AS sk,
        |         count(DISTINCT c_custkey) AS exact_n
        |  FROM customer GROUP BY c_nationkey),
        | reg AS (
        |  SELECT n.n_regionkey,
        |         hll_sketch_estimate(hll_union_agg(nat.sk)) AS est,
        |         CAST(sum(nat.exact_n) AS BIGINT) AS exact_n
        |  FROM nat JOIN nation n ON nat.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_regionkey)
        |SELECT n_regionkey, exact_n,
        |       est BETWEEN exact_n * 0.95 AND exact_n * 1.05
        |         AS est_within_5pct
        |FROM reg ORDER BY n_regionkey""".stripMargin)),

    // --- heavy-hitter sketch (DataSketches frequent-items via
    //     approx_top_k): the top-token / top-domain report every corpus
    //     audit opens with, in ONE pass with a bounded-memory sketch
    //     instead of a full-vocabulary groupBy + sort. With
    //     maxItemsTracked ≥ the live vocabulary the sketch provably
    //     never purges, so its counts are exact — stated as contract
    //     booleans the oracle pins to TRUE (q43's shape): every
    //     returned count equals the exact groupBy count, and every
    //     returned item clears the exact kth-largest threshold. ---
    //     Scan economy: the corpus is read exactly twice — once into
    //     the sketch, once into the exact counts the audit compares
    //     against (production runs the sketch pass alone). Everything
    //     downstream (rank, kth threshold, totals) derives from the
    //     vocabulary-sized `exact` frame in ONE aggregate; the rank
    //     window runs over post-agg count rows (q100's pattern), never
    //     the raw token stream.
    //     PRECONDITION, stated as the `vocab_within_sketch` contract
    //     column: the exactness booleans hold only while the live
    //     vocabulary fits maxItemsTracked (1024 below). A fixture that
    //     outgrows it flips this column FALSE on BOTH sides, so the
    //     stale assumption reads directly off the dumped result instead
    //     of surfacing as an unexplained hash mismatch.
    "q120_approx_topk" -> ((s, d) => gated(s, d,
      """WITH toks AS (
        |  SELECT tok
        |  FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        | exact AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        | ak AS (SELECT approx_top_k(tok, 20, 1024) AS arr FROM toks),
        | items AS (SELECT t.* FROM ak LATERAL VIEW inline(arr) t),
        | j AS (
        |  SELECT e.c, i.count AS ac,
        |         row_number() OVER (ORDER BY e.c DESC, e.tok) AS rn
        |  FROM exact e LEFT JOIN items i ON e.tok = i.item)
        |SELECT
        |  CAST(count(ac) AS BIGINT) AS n_returned,
        |  bool_and(ac IS NULL OR ac = c) AS counts_exact,
        |  min(CASE WHEN ac IS NOT NULL THEN c END) >=
        |    min(CASE WHEN rn <= 20 THEN c END) AS all_at_least_kth,
        |  CAST(sum(c) AS BIGINT) AS total_tokens,
        |  count(*) <= 1024 AS vocab_within_sketch
        |FROM j""".stripMargin)),

    // --- count-min-sketch frequency rollup: sketch each source's
    //     token stream ONCE (Spark's native count_min_sketch, map-side
    //     partial merge), union the per-source sketches with
    //     graft_cms_merge_agg — CMS counters are linear, so the merged
    //     sketch IS the whole-corpus sketch — and probe the top-20
    //     terms with graft_cms_estimate. The q119 posture for
    //     FREQUENCIES instead of cardinalities: ingest sketches each
    //     batch, the fleet rolls up in KBs, the corpus is never
    //     re-read. Accuracy is the one-sided CMS contract, stated as
    //     oracle-pinned booleans: est >= exact always; est <= exact +
    //     ceil(eps*N) per probe w.p. >= confidence (deterministic here:
    //     fixed seed, eps 1e-4 => 27183-cell rows vs a tiny live
    //     vocabulary, so estimates are exact). Exact counts ride along
    //     for the audit only — production runs the sketch pass alone. ---
    "q125_cms_freq" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      gated(s, d,
        """WITH toks AS (
          |  SELECT source, explode(split(text, ' ')) AS term
          |  FROM documents),
          | per AS (
          |  SELECT source,
          |    count_min_sketch(xxhash64(term), 0.0001d, 0.99d, 42) AS sk
          |  FROM toks GROUP BY source),
          | u AS (SELECT graft_cms_merge_agg(sk) AS s FROM per),
          | exact AS (
          |  SELECT term, count(*) AS exact_n FROM toks GROUP BY term),
          | tot AS (SELECT count(*) AS n FROM toks),
          | probed AS (
          |  SELECT term, exact_n,
          |    graft_cms_estimate((SELECT s FROM u), xxhash64(term)) AS est
          |  FROM exact)
          |SELECT term, exact_n,
          |  est >= exact_n AS est_ge_exact,
          |  est <= exact_n + CAST(ceil(0.0001 * (SELECT n FROM tot)) AS BIGINT)
          |    AS est_within_eps
          |FROM probed
          |ORDER BY exact_n DESC, term
          |LIMIT 20""".stripMargin)
    }),

    // --- the sketch tier's QUANTILE member (round 9): fixed-width
    //     bucket histogram of event values + quantile read-off from
    //     the cumulative walk. Chosen over randomized KLL
    //     deliberately: bucketing is a pure integer
    //     function of the value, so the sketch is deterministic and
    //     hash-oracled, and histograms are LINEAR — any rollup is a
    //     vector add of ≤ nBuckets counters. The p50/p95 flags are
    //     exact integer bracket tests (2·cum ≥ total etc.), no float
    //     thresholds. Scale shape: one partial-aggregated groupBy to
    //     ≤ 20 rows; the cumulative window runs over post-agg rows
    //     only (the q120 posture) ---
    "q139_value_histogram" -> ((s, d) => {
      val hist = t(s, d, "events")
        .groupBy(least(greatest(floor(col("value") / lit(25.0d)),
          lit(0L)), lit(19L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum", sum("n").over(w))
        .withColumn("total", sum("n").over(tot))
        .select(col("bucket"), col("n"), col("cum"),
          (col("cum") * 2 >= col("total") &&
            (col("cum") - col("n")) * 2 < col("total")).as("is_p50"),
          (col("cum") * 20 >= col("total") * 19 &&
            (col("cum") - col("n")) * 20 < col("total") * 19).as("is_p95"))
        .orderBy("bucket")
    }),

    // --- string function breadth: pad/replace/split_part/levenshtein ---
    "q50_strfns" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_pad"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          expr("split_part(p_type, ' ', 1)").as("type_head"),
          reverse(col("p_brand")).as("brand_rev"),
          levenshtein(col("p_brand"), lit("Brand#1")).cast("long")
            .as("lev_brand"),
          expr("bigint(instr(p_name, 'a'))").as("first_a"))
        .orderBy("p_partkey")),

    // --- date arithmetic breadth ---
    "q51_datefns" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey"),
          date_add(col("o_orderdate"), 30).as("due_date"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(lit("1998-01-01").cast("date"), col("o_orderdate"))
            .cast("long").as("days_to_98"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")),

    // --- UDAF tier: typed Aggregator computing grouped top-k with a
    //     k-bounded buffer + map-side merge (vs full window sort) ---
    "q52_topk_udaf" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_extendedprice").as("score"))
        .groupBy("l_returnflag")
        .agg(topk(col("id"), col("score")).as("top"))
        .select(col("l_returnflag"),
          posexplode(col("top")).as(Seq("pos", "item")))
        .select(col("l_returnflag"),
          (col("pos") + 1).cast("long").as("rank"),
          col("item.id").as("id"), col("item.score").as("score"))
        .orderBy("l_returnflag", "rank")
    }),

    // --- collection aggregates: sorted collect_list / collect_set.
    //     Array outputs are serialized to '|'-joined strings: the
    //     driver's pandas diff cannot sort/hash ndarray cells, and a
    //     deterministic string is just as strong a check. ---
    "q53_collect" -> ((s, d) =>
      t(s, d, "supplier")
        .join(t(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          concat_ws("|", sort_array(collect_list(col("s_name"))))
            .as("suppliers"),
          concat_ws("|", transform(sort_array(collect_set(col("s_suppkey"))),
            x => x.cast("string"))).as("supp_keys"),
          count(lit(1)).as("n"))
        .orderBy("n_name")),

    // --- pivot-shaped conditional aggregation (wide by return flag) ---
    "q54_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          dsum(when(col("l_returnflag") === "A", col("l_quantity"))
            .otherwise(lit(0))).as("qty_a"),
          dsum(when(col("l_returnflag") === "N", col("l_quantity"))
            .otherwise(lit(0))).as("qty_n"),
          dsum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(lit(0))).as("qty_r"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")),

    // --- array functions over the embedding column. Array outputs are
    //     serialized for the oracle diff: each double is scaled by 2^20
    //     (exact in IEEE — power-of-two multiply) and floored to a
    //     bigint (floor is portable; double→bigint CAST is not: Spark
    //     truncates, DuckDB rounds), then '|'-joined. ---
    "q56_arrayfns" -> ((s, d) =>
      t(s, d, "embeddings")
        .filter(col("vec_id") < 50)
        .withColumn("dv", expr("transform(embedding, x -> cast(x as double))"))
        .select(col("vec_id"),
          expr("bigint(size(dv))").as("dim"),
          expr("array_max(dv)").as("vmax"),
          expr("array_min(dv)").as("vmin"),
          expr("concat_ws('|', transform(slice(dv, 1, 4), " +
            "x -> bigint(floor(x * 1048576.0d))))").as("head4"),
          expr("concat_ws('|', transform(reverse(slice(dv, 1, 3)), " +
            "x -> bigint(floor(x * 1048576.0d))))").as("rev3"),
          expr("bigint(array_position(dv, array_max(dv)))").as("argmax1"))
        .orderBy("vec_id")),

    // --- as-of join: latest order per customer at event time.
    //     Composed from existing ops (preference order (a), SURVEY
    //     §2.2 range-join row): range join + per-event argmax. At
    //     scale: bucket both sides by the equi key; the range predicate
    //     prunes within buckets. ---
    "q57_asof" -> ((s, d) => {
      val e = t(s, d, "events").filter(col("event_id") <= 200)
        .select(col("event_id"), col("ts"), col("user_id"))
      val o = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      e.join(o, col("user_id") === col("o_custkey") &&
          col("o_orderdate") <= col("ts"), "left")
        .groupBy("event_id", "ts", "user_id")
        .agg(max(struct(col("o_orderdate"), col("o_orderkey")))
          .as("latest"))
        .select(col("event_id"), col("user_id"),
          col("latest.o_orderkey").as("asof_orderkey"),
          col("latest.o_orderdate").as("asof_orderdate"))
        .orderBy("event_id")
    }),

    // --- sessionization: lag + cumulative gap counting ---
    "q58_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800,
            1L).otherwise(0L))
        .withColumn("session_no",
          sum("new_session").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("started"), max("ts").as("ended"),
          dsum(col("value")).as("total_value"))
        .orderBy("user_id", "session_no")
    }),

    // --- null semantics: NULLIF / COALESCE / null-safe equality ---
    "q61_nullsafe" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") <= 400)
        .withColumn("status_or_null", expr("nullif(o_orderstatus, 'O')"))
        .select(col("o_orderkey"),
          col("status_or_null"),
          coalesce(col("status_or_null"), lit("open")).as("status_filled"),
          col("status_or_null").eqNullSafe(lit("F")).as("is_f_nullsafe"),
          expr("if(isnull(status_or_null), 0L, 1L)").as("has_status"),
          expr("nvl2(nullif(o_orderpriority, '1-URGENT'), 'other', 'urgent')")
            .as("prio_class"))
        .orderBy("o_orderkey")),

    // --- bucketed co-located fact-fact join (the SCALE.md shape, as a
    //     query): both facts are written bucketed+sorted by orderkey,
    //     so the join AND the same-key aggregation run with zero
    //     shuffle exchange (asserted in PlanSpec) — at 100 TB this is
    //     the ingest-once/join-many posture that removes the dominant
    //     recurring shuffle. The merge hint pins SMJ so the plan shape
    //     is stable across SFs (broadcast would also be exchange-ish).
    //     Bucketing is plan-only: the DuckDB oracle is the plain join. ---
    "q62_bucketed_join" -> ((s, d) => {
      // Both bucketed copies are STAGED (SparkEntry.stage, built at
      // most once per fixture) — the entry itself is the join-many
      // half; on a cold catalog it degrades to build-on-first-use.
      val lb = s.table(SqlSurface.ensureBucketedLineitem(s, d))
      val ob = s.table(SqlSurface.ensureBucketedOrders(s, d))
      lb.join(ob.hint("merge"), lb("l_orderkey") === ob("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(sum(revenueDec).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .filter(col("o_orderkey") <= 2000)
        .orderBy("o_orderkey")
    }),

    // --- z-order clustered scan (the multi-column data-skipping
    //     layout, as a query): the staged z-ordered lineitem copy is
    //     read under a conjunctive range predicate on BOTH clustered
    //     columns; interleaved bucket ranks give every file a narrow
    //     (partkey × suppkey) envelope, so parquet row-group stats
    //     prune all but the overlapping files (PlanSpec measures the
    //     scan reading a fraction of what an unclustered twin reads).
    //     The oracle is the same predicate on the PLAIN table —
    //     hash-exactness proves the clustered copy is a faithful
    //     reordering, not just a faster one. ---
    "q121_zorder_skip" -> ((s, d) =>
      graft.engine.Pq.read(s, SqlSurface.ensureZorderedLineitem(s, d))
        .filter(col("l_partkey").between(10, 40) &&
          col("l_suppkey").between(1, 3))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        // ties on every ORDER BY column are identical projected rows,
        // so the sort is deterministic up to row equality — ordering
        // by fewer columns flakes the row-wise oracle compare
        // whenever a fixture has duplicate (orderkey, linenumber)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")),

    // --- layout tier, zone map + file Blooms: the staged lineitem
    //     copy is range-bucketed by l_partkey with a per-file-unit
    //     stats manifest (min/max partkey + Bloom over orderkey). A
    //     point lookup on l_orderkey — a column the LAYOUT scatters,
    //     so footer min/max can never skip on it — consults the
    //     O(files) manifest and reads only the units whose Bloom
    //     admits the key (PlanSpec asserts the pruning on both
    //     levers). Hash-exactness vs the plain table proves the
    //     pruned read lossless: Blooms have no false negatives ---
    "q141_zonemap_skip" -> ((s, d) => {
      val dir = SqlSurface.ensureZonemappedLineitem(s, d)
      val (_, df) = graft.engine.ZoneMap.zonemapScan(s, dir,
        "l_partkey", "l_orderkey", 0L, Long.MaxValue, point = 777L)
      df.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // --- data-quality constraint audit (the dbt-test /
    //     Great-Expectations capability): four row rules fused into
    //     ONE lineitem scan, two key-uniqueness checks, two
    //     referential-integrity anti joins — each emitting
    //     (rule, n_violations, n_checked). The duplicate
    //     (l_orderkey, l_linenumber) pairs in the fixture surface as
    //     a real non-zero violation count (graft.operators.Quality) ---
    "q148_quality_audit" -> ((s, d) => {
      import graft.operators.Quality
      Quality.audit(Seq(
        Quality.rowRules(t(s, d, "lineitem"), Seq(
          "lineitem.l_orderkey.not_null" -> col("l_orderkey").isNull,
          "lineitem.l_quantity.range_1_50" ->
            !col("l_quantity").between(1, 50),
          "lineitem.l_returnflag.in_set" ->
            !col("l_returnflag").isin("A", "N", "R"),
          "lineitem.l_discount.range_0_0.1" ->
            !col("l_discount").between(0.0, 0.1))),
        Quality.uniqueKey(t(s, d, "orders"),
          "orders.o_orderkey.unique", Seq("o_orderkey")),
        Quality.uniqueKey(t(s, d, "lineitem"),
          "lineitem.orderkey_linenumber.unique",
          Seq("l_orderkey", "l_linenumber")),
        Quality.refIntegrity(t(s, d, "lineitem"), t(s, d, "orders"),
          "lineitem.l_orderkey.refs_orders", "l_orderkey", "o_orderkey"),
        Quality.refIntegrity(t(s, d, "orders"), t(s, d, "customer"),
          "orders.o_custkey.refs_customer", "o_custkey", "c_custkey")))
    }),

    // --- join-size estimation via CMS sketch inner product (the
    //     AMS estimator an optimizer consults BEFORE committing to a
    //     join strategy): sparse (d, c, n) sketches — bounded by the
    //     sketch geometry, portable integer hashes — joined cell-wise,
    //     min over rows; never underestimates by construction. The
    //     estimate itself is exact integer arithmetic, so the oracle
    //     reproduces it bitwise (graft.operators.JoinStats) ---
    "q149_join_estimate" -> ((s, d) => {
      import graft.operators.JoinStats
      val li = t(s, d, "lineitem")
      JoinStats.estimateReport("lineitem_self_partkey",
          li, "l_partkey", li, "l_partkey")
        .unionByName(JoinStats.estimateReport("lineitem_orders_orderkey",
          li, "l_orderkey", t(s, d, "orders"), "o_orderkey"))
        .orderBy("join_name")
    }),

    // --- clustered compaction (lake maintenance × layout, q131's
    //     roundtrip with the z-order preserved): a 48-way fragmented
    //     lineitem copy rewrites through zorderWrite in ONE pass —
    //     defragment AND recluster together, where plain compact's
    //     round-robin would destroy the envelopes. Read back under
    //     q121's conjunctive predicate, hash-exact vs the plain
    //     table; the post-compaction file count rides as an oracle
    //     column (Bucketing.compactZordered) ---
    "q150_clustered_compact" -> ((s, d) => {
      // per-invocation scratch dir — see q131's note: roundtrip
      // queries rewrite their directory and must not be shared
      // across concurrent processes
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_zc_" + graft.engine.Bucketing.fingerprint8(d) +
          "_" + java.util.UUID.randomUUID().toString.take(8)).getPath
      // bounded roundtrip input: the demonstration needs a fragmented
      // directory, not the whole fact table — the operator's scale
      // behavior is BucketingSpec/SCALE.md territory, and an unbounded
      // rewrite would make this the most expensive entry in the suite
      t(s, d, "lineitem").filter(col("l_orderkey") <= 3000)
        .repartition(48)
        .write.mode("overwrite").parquet(dir)
      val (before, after) = graft.engine.Bucketing.compactZordered(
        s, dir, Seq("l_partkey", "l_suppkey"), targetBytes = 1L << 30)
      s.read.parquet(dir)
        .filter(col("l_partkey").between(10, 40) &&
          col("l_suppkey").between(1, 3))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .withColumn("n_files_after", lit(after.toLong))
        .withColumn("defragmented", lit(before > after))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // --- windowed anomaly detection with EXACT-integer z-scores (the
    //     observability tier): hourly event counts flagged when they
    //     sit more than 2σ from the series mean — the z² > 4 test is
    //     algebraically rearranged into pure integer arithmetic
    //     ((N·c − S)² > 4·(N·Sq − S²)) carried in DECIMAL(38,0)
    //     (int64 would overflow silently at the corpus scale this
    //     tier targets: S ~ 1e10 total events puts S² and dev² past
    //     2^63, where Spark wraps and DuckDB raises — decimal keeps
    //     the flags exact to 1e38, i.e. dev up to ~1e19), so the
    //     flags are bitwise cross-engine with no float threshold
    //     anywhere. The series stats ride as one broadcast row; at
    //     100 TB the windowed rollup is the only corpus-sized
    //     aggregation ---
    "q151_anomaly_windows" -> ((s, d) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val w = t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("w"))
        .agg(count(lit(1)).as("n_events"))
      val stats = w.agg(count(lit(1)).as("nw"), sum("n_events").as("s"),
        sum(col("n_events") * col("n_events")).as("sq"))
      w.crossJoin(broadcast(stats))
        .withColumn("dev",
          dec(col("nw")) * dec(col("n_events")) - dec(col("s")))
        .withColumn("thresh", dec(lit(4L)) *
          (dec(col("nw")) * dec(col("sq")) - dec(col("s")) * dec(col("s"))))
        .select(col("w"), col("n_events"),
          (col("dev") > 0 && col("dev") * col("dev") > col("thresh"))
            .as("is_high"),
          (col("dev") < 0 && col("dev") * col("dev") > col("thresh"))
            .as("is_low"))
        .orderBy("w")
    }),

    // --- incremental zone-map upkeep (the layout tier's q140): a
    //     batch appends into the staged map's EXISTING bucket geometry
    //     with its own manifest SEGMENT — the base manifest is never
    //     rewritten (the Delta append-a-segment shape). Point probes
    //     on an appended key AND a base key both prune through the
    //     multi-segment manifest; hash-exactness proves segment-union
    //     pruning lossless (ZoneMap.appendOnce) ---
    "q155_zonemap_append" -> ((s, d) => {
      val dir = SqlSurface.zonemapAppendStage(s, d)
      val (_, appended) = graft.engine.ZoneMap.zonemapScan(s, dir,
        "l_partkey", "l_orderkey", 0L, Long.MaxValue, point = 10000777L)
      val (_, base) = graft.engine.ZoneMap.zonemapScan(s, dir,
        "l_partkey", "l_orderkey", 0L, Long.MaxValue, point = 777L)
      appended.unionByName(base)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // --- zone-map MANIFEST COMPACTION + VACUUM (the Delta
    //     checkpoint/vacuum pair on the layout tier): a fresh map
    //     takes two appended batches (three manifest segments), an
    //     orphaned data file is planted (a crashed appender's
    //     leftovers — invisible by construction), then the manifests
    //     fold to ONE segment and vacuum reclaims exactly the orphan.
    //     Probes on both appended keys and a base key stay lossless
    //     through the fold — hash-exactness proves it; the fold/vacuum
    //     counts ride as oracle columns (ZoneMap.compactManifest,
    //     ZoneMap.vacuum) ---
    "q160_zonemap_compact" -> ((s, d) => {
      import graft.engine.ZoneMap
      // per-invocation scratch staging: compaction mutates the
      // segment layout, so this map is never shared (q150's note)
      val key = d + "#compact-" +
        java.util.UUID.randomUUID().toString.take(8)
      // bounded roundtrip input (q150's rule): the demonstration needs
      // a stageable map containing the probed orders, not the whole
      // fact table — an unbounded per-invocation stage was the most
      // expensive entry in the r10 bench (4.4 s at sf0.1)
      val li = t(s, d, "lineitem").filter(col("l_orderkey") <= 3000)
      val dir = ZoneMap.ensureZonemapped(s, key, li,
        rangeCol = "l_partkey", bloomCol = "l_orderkey", "lineitem_cq")
      def shifted(by: Long) = li.filter(col("l_orderkey") === 777)
        .withColumn("l_orderkey", col("l_orderkey") + lit(by))
      ZoneMap.appendOnce(s, dir, shifted(10000000L),
        "l_partkey", "l_orderkey", "cq-b1")
      ZoneMap.appendOnce(s, dir, shifted(11000000L),
        "l_partkey", "l_orderkey", "cq-b2")
      // a crashed appender's leftovers: data files no manifest
      // references — invisible to scans, reclaimed by vacuum
      shifted(12000000L).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/data_orphan/zf=0")
      val folded = ZoneMap.compactManifest(s, dir)
      val removed = ZoneMap.vacuum(s, dir)
      def probe(p: Long) = ZoneMap.zonemapScan(s, dir,
        "l_partkey", "l_orderkey", 0L, Long.MaxValue, p)._2
      probe(10000777L).unionByName(probe(11000777L))
        .unionByName(probe(777L))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .withColumn("n_segments_folded", lit(folded.toLong))
        .withColumn("n_orphans_removed", lit(removed.toLong))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // --- layout tier, metadata-only aggregation: COUNT/MIN/MAX
    //     answered from parquet row-group FOOTER statistics — zero
    //     data pages decoded (PlanSpec asserts PushedAggregation).
    //     Needs the DSv2 parquet reader, so the query runs in a
    //     derived session (newSession shares the SparkContext but
    //     isolates conf) with aggregatePushDown on; every other query
    //     keeps its verified v1 plan. At 100 TB this answers corpus
    //     bookkeeping queries from footers instead of a full scan. ---
    "q130_meta_agg" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$d/lineitem.parquet")
        .agg(expr("count(*)").as("n_rows"),
          min("l_orderkey").as("min_orderkey"),
          max("l_orderkey").as("max_orderkey"),
          min("l_partkey").as("min_partkey"),
          max("l_partkey").as("max_partkey"))
    }),

    // --- interval join: each click paired with the same user's views
    //     0..10 minutes after it (both bounds inclusive) ---
    "q63_interval_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          col("user_id").as("v_user_id"), col("ts").as("view_ts"))
      clicks.join(views,
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("click_ts") &&
          col("view_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select("click_id", "view_id", "user_id", "click_ts", "view_ts")
        .orderBy("click_id", "view_id")
    }),

    // --- UNPIVOT: wide metrics → long (metric, value) rows ---
    "q68_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("stack(3, 'disc', l_discount, 'price', l_extendedprice, " +
            "'qty', l_quantity)").as(Seq("metric", "value")))
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")),

    // --- RANGE frame over event time: 30-day trailing spend window.
    //     Range frames include peers, so the sum is deterministic even
    //     under order-date ties; decimal-exact money math as usual. ---
    "q69_range_frame" -> ((s, d) => {
      Tables.register(s, d)
      QueryGate.runLogged(s, "parquet", d,
        """SELECT o_orderkey, o_custkey, o_orderdate,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
          |   PARTITION BY o_custkey ORDER BY o_orderdate
          |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
          |   AS DOUBLE) AS spend_30d
          |FROM orders WHERE o_custkey <= 100
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // --- ranking-function breadth: percent_rank / cume_dist / ntile /
    //     first_value / last_value (explicit full frame) ---
    "q70_rank_fns" -> ((s, d) => gated(s, d,
      """SELECT o_orderkey, o_orderstatus,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | first_value(o_orderkey) OVER w AS cheapest,
        | last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_totalprice, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |   AS priciest
        |FROM orders WHERE o_orderkey <= 500
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // --- regex breadth: extract group / match / extract-all count ---
    "q71_regex" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          col("p_name").rlike("red").as("has_red"),
          expr("bigint(size(regexp_extract_all(p_name, '[aeiou]+', 0)))")
            .as("n_vowel_runs"),
          expr("bigint(size(regexp_extract_all(p_type, '[A-Z]+', 0)))")
            .as("n_upper_runs"))
        .orderBy("p_partkey")),

    // --- time-series densification: generate the full hourly spine per
    //     series (sequence + explode) and left-join the actuals, so
    //     silent gaps become explicit zero rows. The spine derives from
    //     per-series min/max — a tiny aggregate — so generation is
    //     bounded and distributed. ---
    "q82_gapfill" -> ((s, d) => {
      val e = t(s, d, "events")
      val hourly = e.withColumn("hour_ts", date_trunc("hour", col("ts")))
        .groupBy("event_type", "hour_ts")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      val bounds = e.groupBy("event_type")
        .agg(date_trunc("hour", min("ts")).as("min_h"),
          date_trunc("hour", max("ts")).as("max_h"))
      val spine = bounds.select(col("event_type"),
        explode(expr("sequence(min_h, max_h, interval 1 hour)"))
          .as("hour_ts"))
      spine.join(hourly, Seq("event_type", "hour_ts"), "left")
        .select(col("event_type"), col("hour_ts"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("event_type", "hour_ts")
    }),

    // --- ordered string aggregation (SQL:2016 LISTAGG ... WITHIN
    //     GROUP), via the gate ---
    "q81_listagg" -> ((s, d) => gated(s, d,
      """SELECT n_name,
        | listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name) AS suppliers,
        | count(*) AS n
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // --- NOT IN with NULLs in the subquery: the classic three-valued-
    //     logic trap (one NULL in the list empties the result unless
    //     rows are null-filtered). Both branches exercised: raw NOT IN
    //     against a null-free list, and the NULL-safe NOT EXISTS form. ---
    "q76_not_in_null" -> ((s, d) => gated(s, d,
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_totalprice > 350000 AND o_custkey IS NOT NULL)
        |  AND c_acctbal < -900
        |ORDER BY c_custkey""".stripMargin)),

    // --- deterministic statistics: variance/stddev derived from
    //     decimal-EXACT sum and sum-of-squares (the naive two-pass
    //     formula is unstable in float but exact here because both
    //     moments are decimal sums; Welford-style streaming variance
    //     would differ across engines/partition orders). ---
    "q77_stats" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("s1"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity")))
            .cast("double").as("s2"),
          expr("every(l_quantity >= 1)").as("all_pos"),
          expr("any(l_quantity >= 50)").as("has_big"))
        .select(col("l_returnflag"), col("n"),
          ((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
            .as("var_pop"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
            .as("std_pop"),
          col("all_pos"), col("has_big"))
        .orderBy("l_returnflag")),

    // --- salted skew join as a query: the hot-key fallback when AQE
    //     skew splitting isn't enough. Salting is plan-only (the left
    //     key fans across 8 sub-partitions, the right side replicates
    //     8x), so the oracle is the plain join — equivalence is the
    //     point. ---
    "q75_salted_join" -> ((s, d) => {
      val l = t(s, d, "lineitem").filter(col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      val o = t(s, d, "orders").filter(col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority")
      graft.operators.SkewJoin
        .saltedJoin(l, o, "l_orderkey", "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(sum(revenueDec).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderpriority")
    }),

    // --- join-key skew diagnostics: the distribution report that tells
    //     you whether q75's salting (or AQE skew splitting) is needed
    //     for a key BEFORE running the join. One partial-agg shuffle to
    //     key counts (keys-sized, not rows-sized), then a single-row
    //     rollup; the exact percentile over key counts keeps the oracle
    //     bit-exact — at 100 TB swap in approx_percentile (q43's
    //     tolerance pattern) so the rollup stays partial-aggregable ---
    "q108_skew_report" -> ((s, d) => {
      val counts = t(s, d, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"),
        expr("percentile(cnt, 0.5)").as("p50"),
        expr("percentile(cnt, 0.99)").as("p99"),
        (max("cnt").cast("double") * count(lit(1)).cast("double") /
          sum("cnt").cast("double")).as("skew_factor"))
    }),

    // --- map functions: construct/concat/keys/values/element_at.
    //     Map-typed cells don't hash in the driver's diff, so outputs
    //     are serialized scalars; the map ops still run on this side
    //     and the oracle pins their results value-for-value. ---
    "q72_mapfns" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") <= 200)
        .withColumn("m", map(
          lit("status"), col("o_orderstatus"),
          lit("prio"), col("o_orderpriority")))
        .withColumn("m2", map_concat(col("m"),
          map(lit("okey"), col("o_orderkey").cast("string"))))
        .select(col("o_orderkey"),
          concat_ws(",", map_keys(col("m2"))).as("m_keys"),
          concat_ws(",", map_values(col("m2"))).as("m_vals"),
          expr("element_at(m, 'prio')").as("prio"),
          expr("bigint(size(m2))").as("m_size"))
        .orderBy("o_orderkey")),

    // --- typed Dataset API: case-class Encoders + groupByKey/mapGroups
    //     — the type-safe escape hatch for per-group imperative logic.
    //     Only order-independent stats (count/max) so the result is
    //     partition-order invariant; note mapGroups forgoes partial
    //     aggregation (full row shuffle), which is the documented cost
    //     of leaving the declarative tier. ---
    "q73_typed_ds" -> ((s, d) => {
      import s.implicits._
      val ds = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .as[OrderRow]
      ds.filter(_.o_totalprice > 200000)
        .groupByKey(_.o_orderstatus)
        .mapGroups { (status, rows) =>
          var n = 0L
          var mx = Double.MinValue
          var minKey = Long.MaxValue
          rows.foreach { o =>
            n += 1
            if (o.o_totalprice > mx) mx = o.o_totalprice
            if (o.o_orderkey < minKey) minKey = o.o_orderkey
          }
          (status, n, mx, minKey)
        }
        .toDF("o_orderstatus", "n_big", "max_price", "first_okey")
        .orderBy("o_orderstatus")
    }),

    // --- E2 parity: document production with sequential 1-based _id ---
    "q23_index_docs" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
      Indexer.withDocIds(joined, Seq(col("o_orderkey")))
        .select("_id", "o_orderkey", "c_name", "o_totalprice")
        .orderBy("_id")
    }),

    // --- q23's scale twin: identical output, but ids assigned by the
    //     distributed path (range-repartition + per-partition offsets,
    //     Indexer.withScalableDocIds) — no single-task window anywhere
    //     in the plan, so the id assignment parallelizes at 100 TB ---
    "q23b_index_scaled" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
      Indexer.withScalableDocIds(joined, Seq(col("o_orderkey")))
        .select("_id", "o_orderkey", "c_name", "o_totalprice")
        .orderBy("_id")
    })
  )

  // DuckDB dialect of each query. Money math mirrors the decimal-exact
  /** q100: engine-portable mode + discrete median (same text runs in
    * Spark and DuckDB; every tie broken explicitly).
    */
  private val ModePercentileSql: String =
    """WITH vals AS (SELECT l_returnflag AS flag,
      |    CAST(l_quantity AS BIGINT) AS q FROM lineitem),
      | counts AS (SELECT flag, q, count(*) AS n FROM vals
      |   GROUP BY flag, q),
      | mode_pick AS (SELECT flag, q AS mode_q, n AS mode_n,
      |    row_number() OVER (PARTITION BY flag
      |      ORDER BY n DESC, q ASC) AS rn FROM counts),
      | ordered AS (SELECT flag, q,
      |    sum(n) OVER (PARTITION BY flag ORDER BY q) AS cum,
      |    sum(n) OVER (PARTITION BY flag) AS total FROM counts),
      | pct AS (SELECT flag, min(q) AS p50_disc FROM ordered
      |   WHERE cum >= CAST(ceil(0.5 * total) AS BIGINT) GROUP BY flag)
      |SELECT m.flag, m.mode_q, m.mode_n, p.p50_disc
      |FROM mode_pick m JOIN pct p ON m.flag = p.flag
      |WHERE m.rn = 1 ORDER BY m.flag""".stripMargin

  // scheme above so values are bitwise identical (see class doc).
  private val SUM_QTY = "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
  private val REV =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"

  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        | $SUM_QTY AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(sum($REV) AS DOUBLE) AS sum_disc_price,
        | $SUM_QTY / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      s"""SELECT l_orderkey, l_linenumber,
        | CAST($REV AS DOUBLE) AS revenue, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05 AND l_quantity < 30
        |ORDER BY l_orderkey, l_linenumber, revenue, l_returnflag""".stripMargin,

    "q03_join_topk" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum($REV) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q04_semijoin" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_antijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q06_outerjoin" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        | coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,

    "q07_thetajoin" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey < r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q08_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q09_rollup" ->
      s"""SELECT l_returnflag, l_linestatus,
        | $SUM_QTY AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin,

    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""
        .stripMargin,

    "q11_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | CAST(rank() OVER (PARTITION BY l_suppkey
        |   ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS BIGINT) AS rnk,
        | lag(l_quantity, 1) OVER w AS prev_qty,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_quantity >= 45
        |WINDOW w AS (PARTITION BY l_suppkey
        |   ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, l_extendedprice"""
        .stripMargin,

    "q12_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 20""".stripMargin,

    "q13_union_except" ->
      """(SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        | UNION
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin,

    "q14_intersect" ->
      """(SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | INTERSECT
        | SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000)
        |UNION ALL
        |(SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_custkey = 1)
        |ORDER BY custkey""".stripMargin,

    "q15_scalar_fns" ->
      """SELECT o_orderkey,
        | upper(substring(o_orderpriority, 1, 3)) AS prio3,
        | concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
        | CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(month(o_orderdate) AS BIGINT) AS o_month,
        | abs(o_totalprice - 100000.0) AS dist100k,
        | o_orderkey % 7 AS k_mod7,
        | sqrt(o_totalprice) AS sqrt_price,
        | CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,

    // sum(BIGINT) is HUGEINT in DuckDB — cast back so the dtype matches
    // Spark's LongType (the r1 hash mismatch was dtype-only).
    "q16_json" ->
      """SELECT event_type,
        | sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q17_case" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        | count(*) AS n,
        | min(o_totalprice) AS min_price,
        | max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q18_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q100_mode_percentile" -> ModePercentileSql,

    "q98_union_by_name" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // same forward-orientation algorithm in SQL: orient each edge
    // toward the larger (degree, id), wedge-join, close with a
    // semi-join; all counts exact integers
    // DuckDB twin of q101: the 3 iterations unrolled as chained CTEs
    // (aggregates are illegal in a recursive term, and the bound is
    // part of the contract anyway). Same exact-integer floor-division
    // scheme: (a - a%b)/b makes the numerator divisible, so the
    // double division is exact and DuckDB's round-on-cast equals
    // Spark's truncate-on-cast.
    "q101_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        | verts AS (SELECT DISTINCT src AS v FROM e),
        | od AS (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
        | r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
        | s1 AS (SELECT e.dst AS v,
        |    sum(CAST((r0.r - r0.r % od.d) / od.d AS BIGINT)) AS m
        |   FROM e JOIN r0 ON e.src = r0.v JOIN od ON e.src = od.v
        |   GROUP BY e.dst),
        | r1 AS (SELECT verts.v, 150000 + CAST((85 * COALESCE(s1.m, 0)
        |      - (85 * COALESCE(s1.m, 0)) % 100) / 100 AS BIGINT) AS r
        |   FROM verts LEFT JOIN s1 ON verts.v = s1.v),
        | s2 AS (SELECT e.dst AS v,
        |    sum(CAST((r1.r - r1.r % od.d) / od.d AS BIGINT)) AS m
        |   FROM e JOIN r1 ON e.src = r1.v JOIN od ON e.src = od.v
        |   GROUP BY e.dst),
        | r2 AS (SELECT verts.v, 150000 + CAST((85 * COALESCE(s2.m, 0)
        |      - (85 * COALESCE(s2.m, 0)) % 100) / 100 AS BIGINT) AS r
        |   FROM verts LEFT JOIN s2 ON verts.v = s2.v),
        | s3 AS (SELECT e.dst AS v,
        |    sum(CAST((r2.r - r2.r % od.d) / od.d AS BIGINT)) AS m
        |   FROM e JOIN r2 ON e.src = r2.v JOIN od ON e.src = od.v
        |   GROUP BY e.dst),
        | r3 AS (SELECT verts.v, 150000 + CAST((85 * COALESCE(s3.m, 0)
        |      - (85 * COALESCE(s3.m, 0)) % 100) / 100 AS BIGINT) AS r
        |   FROM verts LEFT JOIN s3 ON verts.v = s3.v)
        |SELECT v AS node_id, r AS rank_fp,
        |  CAST(r AS DOUBLE) / 1000000 AS rank
        |FROM r3 ORDER BY node_id""".stripMargin,

    // DuckDB twin of q102: the shared merge-learning chain (see
    // dkBpeChain) + the 5 winners stacked into the merge table.
    "q102_bpe_merges" ->
      (s"WITH ${dkBpeChain(5)}\n" +
        (1 to 5).map(i =>
          s"SELECT $i AS step, l AS left_sym, r AS right_sym, " +
            s"l || r AS merged, n FROM w$i")
          .mkString("", "\nUNION ALL ", "\nORDER BY step")),

    // DuckDB twin of q104: the same chain, but shipping the round-5
    // dictionary — count the chr(31)-wrapped symbol groups per word,
    // join back onto the corpus words, roll up per document.
    "q104_bpe_encode" -> dkBpeEncodeSql(5),

    // DuckDB twin of q113: identical shape at the production round
    // count — the 64-step dictionary chain, then the encode join.
    "q113_bpe_encode64" -> dkBpeEncodeSql(64),

    "q114_multi_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // DuckDB puts IGNORE NULLS inside the call parens; Spark after them
    "q115_ignore_nulls" ->
      """SELECT o_orderkey, o_custkey,
        |  last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_price
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q116_filter_agg" ->
      """SELECT o_orderstatus,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_value
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q97_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 30 AND b.l_quantity >= 30),
        | deg AS (SELECT v, count(*) AS deg FROM (
        |    SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)
        |   GROUP BY v),
        | o AS (SELECT
        |    CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
        |         THEN e.src ELSE e.dst END AS u,
        |    CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
        |         THEN e.dst ELSE e.src END AS w
        |   FROM e JOIN deg ds ON e.src = ds.v JOIN deg dd ON e.dst = dd.v),
        | tri AS (SELECT e1.u AS x, e1.w AS y, e2.w AS z
        |   FROM o e1 JOIN o e2 ON e1.w = e2.u
        |   WHERE EXISTS (SELECT 1 FROM o e3
        |                 WHERE e1.u = e3.u AND e2.w = e3.w)),
        | pv AS (SELECT v, count(*) AS n_triangles FROM (
        |   SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        |   UNION ALL SELECT z AS v FROM tri) GROUP BY v)
        |SELECT deg.v AS node_id, deg.deg AS degree,
        |  COALESCE(pv.n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.deg >= 2 THEN
        |    CAST(COALESCE(pv.n_triangles, 0) * 2 AS DOUBLE) /
        |    CAST(deg.deg * (deg.deg - 1) AS DOUBLE) ELSE 0.0 END
        |    AS clustering
        |FROM deg LEFT JOIN pv ON deg.v = pv.v
        |ORDER BY node_id""".stripMargin,

    // identical LATERAL syntax; DuckDB executes the dependent subquery
    // per row where Spark decorrelates it — same rows either way
    "q93_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    // identical text in both engines; DuckDB runs the dependent
    // subqueries per row where Spark decorrelates — same rows either way
    "q111_exists_lateral" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE c_custkey <= 300 AND EXISTS (
        |  SELECT 1 FROM (SELECT o_orderpriority FROM orders
        |                 WHERE o_custkey = c.c_custkey
        |                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |  WHERE t.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q112_lateral_agg" ->
      """SELECT c_custkey, t.n_orders, t.total_spend
        |FROM customer c,
        |LATERAL (SELECT count(*) AS n_orders,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        |         FROM orders WHERE o_custkey = c.c_custkey) t
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin,

    "q94_star_join" ->
      s"""SELECT n_name,
         |  CAST(sum($REV) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |  AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    // parallel unnest() calls zip positionally in DuckDB — the twin of
    // posexplode; everything downstream is engine-identical SQL
    "q95_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(range(len(string_split(text, ' ')))) AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        | bi AS (
        |  SELECT tok AS w1,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks),
        | big AS (SELECT w1, w2, count(*) AS n_xy FROM bi
        |         WHERE w2 IS NOT NULL GROUP BY w1, w2),
        | uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        | tot AS (SELECT sum(n_xy) AS nb FROM big)
        |SELECT w1, w2, n_xy,
        |  CAST(n_xy * nb AS DOUBLE) / CAST(u1.n * u2.n AS DOUBLE) AS lift
        |FROM big JOIN uni u1 ON big.w1 = u1.tok
        |         JOIN uni u2 ON big.w2 = u2.tok
        |         CROSS JOIN tot
        |WHERE n_xy >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,

    // DuckDB's multi-arg GROUPING() IS the bitmask Spark calls
    // grouping_id(); explicit NULLS FIRST because DuckDB defaults to
    // NULLS LAST where Spark defaults FIRST.
    "q92_grouping_fns" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS g_id,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_id, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    // DuckDB spells day-difference as date_diff over DATEs; values match
    // Spark's datediff on the timestamp pair.
    "q91_leadlag" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_order,
        |  lead(o_orderkey) OVER w AS next_order,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q89_setops_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem
        |           WHERE l_quantity < 10),
        | b AS (SELECT l_suppkey AS k FROM lineitem
        |       WHERE l_returnflag = 'R')
        |SELECT 'except_all' AS op, k, count(*) AS n
        |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
        |UNION ALL
        |SELECT 'intersect_all' AS op, k, count(*) AS n
        |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
        |ORDER BY op, k""".stripMargin,

    // DuckDB twin of q88: identical recursion; only the struct-argmax
    // spelling differs (struct_pack vs named_struct).
    "q88_recursive_chain" ->
      """WITH RECURSIVE base AS (
        |  SELECT o_custkey,
        |    CAST(floor(CAST(o_totalprice AS DECIMAL(18,4))) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey <= 50),
        | r AS (
        |  SELECT o_custkey, rn, v % 1000003 AS fp FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.o_custkey, b.rn, (r.fp * 131 + b.v) % 1000003 AS fp
        |  FROM r JOIN base b ON b.o_custkey = r.o_custkey
        |    AND b.rn = r.rn + 1 AND b.rn <= 8)
        |SELECT o_custkey, CAST(max(rn) AS BIGINT) AS n_orders,
        |  (max(struct_pack(rn := rn, fp := fp))).fp AS chain_fp
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q19_subquery_corr" ->
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE s_acctbal > (SELECT avg(c_acctbal) FROM customer c
        |                   WHERE c.c_nationkey = s.s_nationkey)
        |ORDER BY s_suppkey""".stripMargin,

    "q20_groupingsets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin,

    "q21_having" ->
      s"""SELECT l_partkey, $SUM_QTY AS total_qty, count(*) AS n
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 35
        |ORDER BY l_partkey""".stripMargin,

    "q22_timebucket" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,

    "q39_fullouter" ->
      """SELECT c_custkey, c_name, o_custkey, n_big FROM
        |(SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN
        |(SELECT o_custkey, count(*) AS n_big FROM orders
        | WHERE o_totalprice > 250000 GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_custkey ASC NULLS FIRST"""
        .stripMargin,

    "q40_crossjoin" ->
      """SELECT r_name, n_name FROM region
        |CROSS JOIN (SELECT n_name FROM nation WHERE n_nationkey < 5)
        |ORDER BY r_name, n_name""".stripMargin,

    "q41_rightjoin" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM (SELECT * FROM orders WHERE o_totalprice > 280000) o
        |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q42_from_json" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        | count(*) AS n,
        | sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum
        |FROM events GROUP BY 1 ORDER BY k_mod ASC NULLS FIRST""".stripMargin,

    // The within-tol booleans assert the DataSketches HLL estimate
    // (lgK 14, ~0.8% relative standard error) lies within 5% of the
    // exact count; the oracle states them as literal TRUE, so a sketch
    // drifting out of tolerance fails the hash check.
    "q43_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | TRUE AS parts_within_tol,
        | TRUE AS orders_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q61_nullsafe" ->
      """SELECT o_orderkey,
        | nullif(o_orderstatus, 'O') AS status_or_null,
        | coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_filled,
        | nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS is_f_nullsafe,
        | CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 0 ELSE 1 END::BIGINT
        |   AS has_status,
        | CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NOT NULL
        |      THEN 'other' ELSE 'urgent' END AS prio_class
        |FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey""".stripMargin,

    "q57_asof" ->
      """SELECT event_id, user_id,
        | (max(struct_pack(d := o_orderdate, k := o_orderkey))).k AS asof_orderkey,
        | (max(struct_pack(d := o_orderdate, k := o_orderkey))).d AS asof_orderdate
        |FROM (SELECT event_id, ts, user_id FROM events WHERE event_id <= 200) e
        |LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |GROUP BY event_id, ts, user_id
        |ORDER BY event_id""".stripMargin,

    "q58_sessions" ->
      """WITH g AS (
        | SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (
        | SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_no
        | FROM g)
        |SELECT user_id, session_no, count(*) AS n_events,
        | min(ts) AS started, max(ts) AS ended,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "q53_collect" ->
      """SELECT n_name,
        | array_to_string(list_sort(list(s_name)), '|') AS suppliers,
        | array_to_string(list_sort(list(DISTINCT s_suppkey)), '|') AS supp_keys,
        | count(*) AS n
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q54_pivot" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN l_returnflag = 'A'
        |   THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS qty_a,
        | CAST(sum(CASE WHEN l_returnflag = 'N'
        |   THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS qty_n,
        | CAST(sum(CASE WHEN l_returnflag = 'R'
        |   THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS qty_r,
        | count(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q56_arrayfns" ->
      """SELECT vec_id,
        | len(dv)::BIGINT AS dim,
        | list_max(dv) AS vmax,
        | list_min(dv) AS vmin,
        | array_to_string(list_transform(dv[1:4],
        |   x -> CAST(floor(x * 1048576.0) AS BIGINT)), '|') AS head4,
        | array_to_string(list_transform(list_reverse(dv[1:3]),
        |   x -> CAST(floor(x * 1048576.0) AS BIGINT)), '|') AS rev3,
        | list_position(dv, list_max(dv))::BIGINT AS argmax1
        |FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
        |      FROM embeddings WHERE vec_id < 50)
        |ORDER BY vec_id""".stripMargin,

    "q52_topk_udaf" ->
      """SELECT l_returnflag, rn AS rank, id, score FROM (
        | SELECT l_returnflag,
        |  l_orderkey * 10 + l_linenumber AS id,
        |  l_extendedprice AS score,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber ASC)
        |    ::BIGINT AS rn
        | FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_returnflag, rank""".stripMargin,

    "q108_skew_report" ->
      """WITH c AS (SELECT l_partkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT count(*) AS n_keys,
        | CAST(sum(cnt) AS BIGINT) AS n_rows,
        | max(cnt) AS max_cnt,
        | quantile_cont(cnt, 0.5) AS p50,
        | quantile_cont(cnt, 0.99) AS p99,
        | max(cnt)::DOUBLE * count(*)::DOUBLE / sum(cnt)::DOUBLE
        |   AS skew_factor
        |FROM c""".stripMargin,

    "q49_quantiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS q50,
        | quantile_cont(l_quantity, 0.75) AS q75,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,

    // the within-tol booleans assert the sketch's rank-error bound; the
    // oracle states them as literal TRUE (q43's accuracy-contract shape)
    "q117_approx_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        | TRUE AS p50_within_tol,
        | TRUE AS p90_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,

    // the bloom probe is a pass-through prune (no false negatives); the
    // oracle is the plain semi join it accelerates
    "q118_bloom_prune" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    // per-nation distincts are disjoint (c_custkey unique), so the
    // region exact count is their sum; the union'd-sketch estimate is
    // asserted inside its 5% contract as literal TRUE
    "q119_hll_rollup" ->
      """SELECT n.n_regionkey,
        | CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS exact_n,
        | TRUE AS est_within_5pct
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_regionkey ORDER BY n_regionkey""".stripMargin,

    // the sketch never purges at maxItemsTracked ≥ |vocabulary|, so its
    // counts are exact and both contract booleans are literal TRUE; the
    // oracle recomputes the exact side only. n_returned is DERIVED
    // (LEAST(20, |vocab|)), not a hard-coded 20, and the 1024
    // maxItemsTracked precondition is the vocab_within_sketch column —
    // a fixture that outgrows the sketch flips it on both sides.
    "q120_approx_topk" ->
      """WITH toks AS (
        |  SELECT tok
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '')
        |SELECT CAST(LEAST(20, count(DISTINCT tok)) AS BIGINT) AS n_returned,
        |  TRUE AS counts_exact,
        |  TRUE AS all_at_least_kth,
        |  CAST(count(*) AS BIGINT) AS total_tokens,
        |  count(DISTINCT tok) <= 1024 AS vocab_within_sketch
        |FROM toks""".stripMargin,

    // DuckDB twin of q125: exact counts + the CMS one-sided error
    // contracts pinned TRUE (only Spark can compute the sketch; the
    // contracts are what the estimates must satisfy — q119's shape)
    // q139: same bucket function, same exact-integer bracket tests
    "q139_value_histogram" ->
      """WITH h AS (SELECT
        |   least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19)
        |     AS bucket,
        |   count(*) AS n
        |  FROM events GROUP BY 1),
        | c AS (SELECT bucket, n,
        |   sum(n) OVER (ORDER BY bucket) AS cum,
        |   sum(n) OVER () AS total FROM h)
        |SELECT bucket, n, CAST(cum AS BIGINT) AS cum,
        | (2*cum >= total AND 2*(cum - n) < total) AS is_p50,
        | (20*cum >= 19*total AND 20*(cum - n) < 19*total) AS is_p95
        |FROM c ORDER BY bucket""".stripMargin,

    "q125_cms_freq" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(*)::BIGINT AS exact_n,
        |  TRUE AS est_ge_exact,
        |  TRUE AS est_within_eps
        |FROM toks GROUP BY term
        |ORDER BY exact_n DESC, term
        |LIMIT 20""".stripMargin,

    "q50_strfns" ->
      """SELECT p_partkey,
        | lpad(p_brand, 12, '*') AS brand_pad,
        | regexp_replace(p_name, ' ', '_', 'g') AS name_us,
        | split_part(p_type, ' ', 1) AS type_head,
        | reverse(p_brand) AS brand_rev,
        | levenshtein(p_brand, 'Brand#1')::BIGINT AS lev_brand,
        | instr(p_name, 'a')::BIGINT AS first_a
        |FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""".stripMargin,

    // Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6.
    "q51_datefns" ->
      """SELECT o_orderkey,
        | (o_orderdate + INTERVAL 30 DAY)::DATE AS due_date,
        | last_day(o_orderdate) AS month_end,
        | date_diff('day', o_orderdate, DATE '1998-01-01')::BIGINT AS days_to_98,
        | (dayofweek(o_orderdate) + 1)::BIGINT AS dow,
        | quarter(o_orderdate)::BIGINT AS qtr,
        | date_trunc('month', o_orderdate)::TIMESTAMP AS month_start
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,

    "q62_bucketed_join" ->
      s"""SELECT o_orderkey, o_orderpriority,
        | CAST(sum($REV) AS DOUBLE) AS revenue, count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey <= 2000
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,

    // the z-ordered copy must be a faithful REORDERING of lineitem:
    // the oracle runs the same range predicate on the plain table
    "q121_zorder_skip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 10 AND 40 AND l_suppkey BETWEEN 1 AND 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin,

    // footer-statistics aggregation must equal the full-scan answer
    "q130_meta_agg" ->
      """SELECT count(*) AS n_rows,
        | min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        | min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
        |FROM lineitem""".stripMargin,

    // q148: each rule recomputed directly; LEFT JOIN IS NULL (not
    // NOT IN) for the orphan counts so null-FK semantics match the
    // anti join. The composite-key uniqueness count filters
    // partial-null keys BEFORE the DISTINCT (mirroring
    // Quality.uniqueKey, where a null key part is a violation —
    // count(DISTINCT (a, b)) alone would count a (1, NULL) struct as
    // a distinct valid key and diverge; QualitySpec pins the choice)
    "q148_quality_audit" ->
      """SELECT * FROM (
        | SELECT 'lineitem.l_orderkey.not_null' AS rule,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_violations,
        |  count(*) AS n_checked FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.l_quantity.range_1_50',
        |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
        |    THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.l_returnflag.in_set',
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |    THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.l_discount.range_0_0.1',
        |  CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
        |    THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        | UNION ALL
        | SELECT 'orders.o_orderkey.unique',
        |  count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
        | UNION ALL
        | SELECT 'lineitem.orderkey_linenumber.unique',
        |  count(*) - (SELECT count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
        |     WHERE l_orderkey IS NOT NULL
        |       AND l_linenumber IS NOT NULL)),
        |  count(*) FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.l_orderkey.refs_orders',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |   WHERE o.o_orderkey IS NULL),
        |  count(*) FROM lineitem
        | UNION ALL
        | SELECT 'orders.o_custkey.refs_customer',
        |  (SELECT count(*) FROM orders r LEFT JOIN
        |    (SELECT DISTINCT c_custkey FROM customer) c
        |    ON r.o_custkey = c.c_custkey
        |   WHERE c.c_custkey IS NULL),
        |  count(*) FROM orders)
        |ORDER BY rule""".stripMargin,

    // q149: the same portable permHash cells, the same cell-wise inner
    // product, the same min-over-rows — integer-exact in both engines
    "q149_join_estimate" ->
      """WITH dd AS (SELECT unnest(range(0, 5)) AS d),
        | cells_lp AS (SELECT dd.d AS d,
        |   (((l_partkey % 2147483647)
        |      * ((2654435761 * (dd.d + 1)) % 2147483647)
        |     + ((2246822519 * (dd.d + 1)) % 2147483647))
        |    % 2147483647) % 256 AS c,
        |   count(*) AS n
        |  FROM lineitem CROSS JOIN dd GROUP BY 1, 2),
        | cells_lo AS (SELECT dd.d AS d,
        |   (((l_orderkey % 2147483647)
        |      * ((2654435761 * (dd.d + 1)) % 2147483647)
        |     + ((2246822519 * (dd.d + 1)) % 2147483647))
        |    % 2147483647) % 256 AS c,
        |   count(*) AS n
        |  FROM lineitem CROSS JOIN dd GROUP BY 1, 2),
        | cells_oo AS (SELECT dd.d AS d,
        |   (((o_orderkey % 2147483647)
        |      * ((2654435761 * (dd.d + 1)) % 2147483647)
        |     + ((2246822519 * (dd.d + 1)) % 2147483647))
        |    % 2147483647) % 256 AS c,
        |   count(*) AS n
        |  FROM orders CROSS JOIN dd GROUP BY 1, 2),
        | est_self AS (SELECT min(s) AS est FROM (
        |   SELECT a.d, CAST(sum(a.n * b.n) AS BIGINT) AS s
        |   FROM cells_lp a JOIN cells_lp b ON a.d = b.d AND a.c = b.c
        |   GROUP BY a.d)),
        | est_lo AS (SELECT min(s) AS est FROM (
        |   SELECT a.d, CAST(sum(a.n * b.n) AS BIGINT) AS s
        |   FROM cells_lo a JOIN cells_oo b ON a.d = b.d AND a.c = b.c
        |   GROUP BY a.d)),
        | ex_self AS (SELECT CAST(sum(n * n) AS BIGINT) AS ex FROM (
        |   SELECT count(*) AS n FROM lineitem GROUP BY l_partkey)),
        | ex_lo AS (SELECT CAST(sum(a.n * b.n) AS BIGINT) AS ex FROM
        |   (SELECT l_orderkey AS k, count(*) AS n FROM lineitem
        |    GROUP BY 1) a
        |   JOIN (SELECT o_orderkey AS k, count(*) AS n FROM orders
        |    GROUP BY 1) b ON a.k = b.k)
        |SELECT * FROM (
        | SELECT 'lineitem_orders_orderkey' AS join_name,
        |   ex_lo.ex AS exact_size, est_lo.est AS est_size,
        |   est_lo.est >= ex_lo.ex AS overestimates
        | FROM ex_lo, est_lo
        | UNION ALL
        | SELECT 'lineitem_self_partkey', ex_self.ex, est_self.est,
        |   est_self.est >= ex_self.ex
        | FROM ex_self, est_self)
        |ORDER BY join_name""".stripMargin,

    // q150: the clustered compaction roundtrip must be a faithful
    // rewrite — same predicate on the plain table, file count pinned
    "q150_clustered_compact" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity, CAST(1 AS BIGINT) AS n_files_after,
        | TRUE AS defragmented
        |FROM lineitem
        |WHERE l_orderkey <= 3000
        |  AND l_partkey BETWEEN 10 AND 40 AND l_suppkey BETWEEN 1 AND 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity""".stripMargin,

    // q151: the same integer rearrangement of z² > 4 in 128-bit
    // arithmetic (HUGEINT here, DECIMAL(38,0) on the Spark side — both
    // exact far past the int64 range the corpus-scale sums exceed) —
    // no float threshold, flags bitwise identical
    "q151_anomaly_windows" ->
      """WITH w AS (SELECT date_trunc('hour', ts) AS w,
        |   count(*) AS n_events FROM events GROUP BY 1),
        | st AS (SELECT CAST(count(*) AS HUGEINT) AS nw,
        |   CAST(sum(n_events) AS HUGEINT) AS s,
        |   CAST(sum(n_events * n_events) AS HUGEINT) AS sq FROM w)
        |SELECT w.w, w.n_events,
        |  (nw * n_events - s) > 0 AND
        |   (nw * n_events - s) * (nw * n_events - s)
        |     > 4 * (nw * sq - s * s) AS is_high,
        |  (nw * n_events - s) < 0 AND
        |   (nw * n_events - s) * (nw * n_events - s)
        |     > 4 * (nw * sq - s * s) AS is_low
        |FROM w, st ORDER BY w""".stripMargin,

    // q160: both appended keys and the base key must read losslessly
    // THROUGH the manifest fold; 3 segments fold (base + 2 appends)
    // and vacuum reclaims exactly the one planted orphan file
    "q160_zonemap_compact" ->
      """SELECT * FROM (
        | SELECT l_orderkey + 10000000 AS l_orderkey, l_linenumber,
        |  l_partkey, l_suppkey, l_quantity,
        |  CAST(3 AS BIGINT) AS n_segments_folded,
        |  CAST(1 AS BIGINT) AS n_orphans_removed
        | FROM lineitem WHERE l_orderkey = 777
        | UNION ALL
        | SELECT l_orderkey + 11000000, l_linenumber, l_partkey,
        |  l_suppkey, l_quantity, 3, 1
        | FROM lineitem WHERE l_orderkey = 777
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, 3, 1
        | FROM lineitem WHERE l_orderkey = 777)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity""".stripMargin,

    // q155: base rows ∪ the shifted appended batch — the multi-segment
    // pruned read must be lossless for both point keys
    "q155_zonemap_append" ->
      """SELECT * FROM (
        | SELECT l_orderkey + 10000000 AS l_orderkey, l_linenumber,
        |  l_partkey, l_suppkey, l_quantity
        | FROM lineitem WHERE l_orderkey = 777
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity
        | FROM lineitem WHERE l_orderkey = 777)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity""".stripMargin,

    // q141: the zone-mapped copy + Bloom-pruned read must be lossless —
    // same point predicate on the plain table
    "q141_zonemap_skip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_orderkey = 777
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity""".stripMargin,

    "q63_interval_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
        | c.user_id, c.ts AS click_ts, v.ts AS view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,

    "q68_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        | SELECT l_orderkey, l_linenumber, 'disc' AS metric, l_discount AS value
        |   FROM lineitem WHERE l_orderkey <= 100
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        |   FROM lineitem WHERE l_orderkey <= 100
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'qty', l_quantity
        |   FROM lineitem WHERE l_orderkey <= 100)
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,

    "q69_range_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS spend_30d
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_orderkey""".stripMargin,

    "q70_rank_fns" ->
      """SELECT o_orderkey, o_orderstatus,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd,
        | ntile(4) OVER w::BIGINT AS quartile,
        | first_value(o_orderkey) OVER w AS cheapest,
        | last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_totalprice, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |   AS priciest
        |FROM orders WHERE o_orderkey <= 500
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q71_regex" ->
      """SELECT p_partkey,
        | regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        | regexp_matches(p_name, 'red') AS has_red,
        | len(regexp_extract_all(p_name, '[aeiou]+'))::BIGINT AS n_vowel_runs,
        | len(regexp_extract_all(p_type, '[A-Z]+'))::BIGINT AS n_upper_runs
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,

    "q82_gapfill" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |   count(*) AS n,
        |   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        | b AS (SELECT event_type, date_trunc('hour', min(ts)) AS min_h,
        |   date_trunc('hour', max(ts)) AS max_h FROM events GROUP BY 1),
        | spine AS (SELECT event_type,
        |   unnest(generate_series(min_h, max_h, INTERVAL 1 HOUR)) AS hour_ts
        |  FROM b)
        |SELECT s.event_type, s.hour_ts,
        | coalesce(h.n, 0)::BIGINT AS n,
        | coalesce(h.sum_value, 0.0) AS sum_value
        |FROM spine s LEFT JOIN h
        |  ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts
        |ORDER BY s.event_type, s.hour_ts""".stripMargin,

    "q81_listagg" ->
      """SELECT n_name,
        | string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
        | count(*) AS n
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q76_not_in_null" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_totalprice > 350000 AND o_custkey IS NOT NULL)
        |  AND c_acctbal < -900
        |ORDER BY c_custkey""".stripMargin,

    "q77_stats" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4)) *
        |           CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        |  bool_and(l_quantity >= 1) AS all_pos,
        |  bool_or(l_quantity >= 50) AS has_big
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | (s2 - s1 * s1 / n) / n AS var_pop,
        | sqrt((s2 - s1 * s1 / n) / n) AS std_pop,
        | all_pos, has_big
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q75_salted_join" ->
      s"""SELECT o_orderpriority,
        | CAST(sum($REV) AS DOUBLE) AS revenue, count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey <= 2000 AND o_orderkey <= 2000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The Spark side computes these through map construction/concat/
    // element_at; the oracle pins the equivalent values directly.
    "q72_mapfns" ->
      """SELECT o_orderkey,
        | 'status,prio,okey' AS m_keys,
        | o_orderstatus || ',' || o_orderpriority || ',' || o_orderkey
        |   AS m_vals,
        | o_orderpriority AS prio,
        | 3::BIGINT AS m_size
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,

    "q73_typed_ds" ->
      """SELECT o_orderstatus, count(*) AS n_big,
        | max(o_totalprice) AS max_price,
        | min(o_orderkey) AS first_okey
        |FROM orders WHERE o_totalprice > 200000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q23_index_docs" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS _id,
        | o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY _id""".stripMargin,

    // same oracle as q23: the scalable path must produce the exact same
    // dense 1-based id sequence the single-window path does
    "q23b_index_scaled" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS _id,
        | o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY _id""".stripMargin
  )
}
