package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Calendar-time aggregations — Elasticsearch's `date_histogram`
  * (calendar intervals) and `date_range` aggs over a timestamp
  * column, the backbone of every Kibana time-series panel.
  *
  * The reference delegates aggregations to Elasticsearch
  * (`api/controllers/elastic_controller.go:196-229` only indexes;
  * aggregation queries run in ES). The numeric histogram tier
  * ([[SegmentedIndex.histogramFacet]]) covers fixed-width buckets;
  * this module adds what fixed width cannot express: CALENDAR
  * intervals (months and years are not constant-width — ES
  * distinguishes `calendar_interval` from `fixed_interval` for
  * exactly this reason). Bucketing is `date_trunc` (codegen'd,
  * partial-aggregated map-side), and the `min_doc_count: 0`
  * gap-fill explodes a month `sequence` between the occupied
  * bounds — a single-row frame, O(range/interval) rows, never a
  * driver loop. At 100 TB the time column is the classic hive
  * partition key: a `WHERE ts >= …` window prunes date partitions
  * at planning time and the truncation shuffles only
  * (bucket, partial-count) pairs.
  */
object TimeOps {

  private val CalendarIntervals =
    Set("year", "quarter", "month", "week", "day", "hour", "minute")

  /** ES `date_histogram` with `calendar_interval` semantics and its
    * `min_doc_count: 0` default: rows bucket by the calendar
    * truncation of `tsCol`, and EVERY interval between the lowest
    * and highest occupied bucket appears, empty ones with
    * doc_count 0 (the gap-fill that makes the series chartable and
    * derivative-safe). `pred` is the query half of the request
    * (`query` + `aggs` in one ES body) — it pushes into the scan.
    * Output: (bucket timestamp, doc_count), bucket-ascending. */
  def dateHistogram(df: DataFrame, tsCol: String, interval: String,
                    pred: Option[String] = None): DataFrame = {
    require(CalendarIntervals(interval),
      s"unsupported calendar_interval: $interval")
    val src = pred.fold(df)(df.filter(_))
    val counts = src
      .withColumn("bucket", date_trunc(interval, col(tsCol)))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("doc_count"))
    val step = interval match {
      case "quarter" => expr("interval 3 months")
      case other     => expr(s"interval 1 $other")
    }
    val buckets = counts
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(sequence(col("lo"), col("hi"), step))
        .as("bucket"))
    buckets.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("doc_count"))
      .orderBy("bucket")
  }

  /** The auto_date_histogram interval ladder, finest→coarsest, with
    * PINNED nominal spans (seconds) for the bucket-count estimate:
    * months count as 30 days, quarters 90, years 365 — the rough
    * rounding ES's own interval picker uses (the estimate picks the
    * unit; the BUCKETS are then true calendar buckets). Pinned
    * constants keep the pick engine-reproducible. */
  private val AutoLadder: Seq[(String, Long)] = Seq(
    "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L,
    "week" -> 604800L, "month" -> 2592000L,
    "quarter" -> 7776000L, "year" -> 31536000L)

  /** ES `auto_date_histogram`: the caller names a TARGET bucket
    * count, the engine picks the interval — the finest [[AutoLadder]]
    * unit whose estimated bucket count (span/unit + 1, the pinned
    * nominal spans) stays within `targetBuckets`; coarser than a
    * year is a year (ES tops out the same way). The span comes off
    * one (min, max) aggregation — a SINGLE-ROW driver collect, the
    * coordinator-side pick ES itself performs — and the result is
    * [[dateHistogram]]'s gap-filled calendar series under the chosen
    * unit, with the pick reported in `auto_interval` (ES returns the
    * chosen `interval` in the response for exactly this reason).
    * Output: (bucket, doc_count, auto_interval), bucket-ascending;
    * an empty source yields zero rows. */
  def autoDateHistogram(df: DataFrame, tsCol: String,
                        targetBuckets: Int,
                        pred: Option[String] = None): DataFrame = {
    require(targetBuckets >= 1,
      s"targetBuckets must be >= 1: $targetBuckets")
    val src = pred.fold(df)(df.filter(_))
    val b = src.filter(col(tsCol).isNotNull)
      .agg(min(col(tsCol)).as("lo"), max(col(tsCol)).as("hi"))
      .collect().head
    if (b.isNullAt(0))
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("doc_count",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("auto_interval",
            org.apache.spark.sql.types.StringType))))
    val spanSec = (b.getTimestamp(1).getTime -
      b.getTimestamp(0).getTime) / 1000L
    val chosen = AutoLadder
      .find { case (_, s) => spanSec / s + 1 <= targetBuckets }
      .map(_._1).getOrElse("year")
    dateHistogram(src, tsCol, chosen)
      .withColumn("auto_interval", lit(chosen))
  }

  /** ES `rate` aggregation under a `date_histogram` parent — "how
    * many per day", computed per calendar bucket: rate =
    * doc_count / (days in THAT bucket), which is the whole point of
    * the agg under calendar intervals (a 28-day February and a
    * 31-day January normalize to comparable per-day rates; a fixed
    * divisor would lie). The divisor is exact integer calendar
    * arithmetic (datediff to the next bucket start) and the rate is
    * ONE division of exactly-representable longs — bit-stable on the
    * hash-oracle surface. `unit` is pinned to `day` (ES's other
    * units are the same single scaling; day is the one that
    * exercises variable bucket lengths). Output: (bucket, doc_count,
    * bucket_days, rate_per_day), bucket-ascending, gap-filled like
    * [[dateHistogram]] (empty buckets rate 0.0). */
  def dateHistogramRate(df: DataFrame, tsCol: String,
                        interval: String,
                        pred: Option[String] = None): DataFrame = {
    require(Set("year", "quarter", "month", "week", "day")(interval),
      s"rate needs a day-divisible calendar interval: $interval")
    val step = interval match {
      case "quarter" => expr("interval 3 months")
      case other     => expr(s"interval 1 $other")
    }
    dateHistogram(df, tsCol, interval, pred)
      .withColumn("bucket_days",
        datediff(to_date(col("bucket") + step), to_date(col("bucket")))
          .cast("long"))
      .withColumn("rate_per_day",
        col("doc_count").cast("double") /
          col("bucket_days").cast("double"))
      .orderBy("bucket")
  }

  /** Event FUNNEL — the ordered-conversion question every event
    * analytics stack asks ("signup → purchase within 7 days": how
    * many users reach each stage?): per user, stage 1 anchors at the
    * user's EARLIEST stage-1 event; each later stage i anchors at
    * the earliest stage-i event AT OR AFTER the previous stage's
    * anchor and within `windowSec` of the STAGE-1 anchor (the
    * whole-funnel window — the common product-analytics definition,
    * pinned). Conversion is each stage's user count over stage 1's —
    * one exact long division per stage.
    *
    * Plan shape: one filtered scan per stage (the event-type
    * predicate pushes down), each stage a (user, min ts) aggregation
    * joined user-keyed to the previous anchor — stage frames shrink
    * monotonically, joins are user-keyed shuffles (co-partitioned
    * after the first), nothing is ever per-event quadratic. Output:
    * (stage_idx, stage, n_users, conversion), stage order. */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String],
             windowSec: Long): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least two stages")
    require(stages.distinct.size == stages.size,
      "funnel stages must be distinct event types")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val spark = df.sparkSession
    val first = df.filter(col(typeCol) === lit(stages.head))
      .groupBy(col(userCol).as("u"))
      .agg(min(col(tsCol)).as("t0"))
    val anchors = stages.zipWithIndex.tail
      .scanLeft(first.withColumn("tprev", col("t0"))) {
        case (prev, (stage, _)) =>
          df.filter(col(typeCol) === lit(stage))
            .select(col(userCol).as("u"), col(tsCol).as("ts"))
            .join(prev.select("u", "t0", "tprev"), Seq("u"))
            .filter(col("ts") >= col("tprev") &&
              col("ts") <= col("t0") +
                expr(s"interval $windowSec seconds"))
            .groupBy("u")
            .agg(min(col("ts")).as("tnew"),
              min(col("t0")).as("t0"))
            .select(col("u"), col("t0"), col("tnew").as("tprev"))
      }
    val counts = anchors.map(_.agg(count(lit(1)).as("n")))
    val labeled = stages.zip(counts).zipWithIndex.map {
      case ((stage, c), i) =>
        c.select(lit(i.toLong).as("stage_idx"),
          lit(stage).as("stage"), col("n").as("n_users"))
    }
    val base = counts.head.select(col("n").as("n0"))
    labeled.reduce(_ unionByName _)
      .crossJoin(broadcast(base))
      .withColumn("conversion",
        when(col("n0") === 0L, lit(0.0d))
          .otherwise(col("n_users").cast("double") /
            col("n0").cast("double")))
      .select("stage_idx", "stage", "n_users", "conversion")
      .orderBy("stage_idx")
  }

  /** EQL-style SEQUENCE query — ES's `sequence by <key> [type=a]
    * [type=b] … with maxspan=N` (the security/observability query
    * language over event streams), returning the matched event
    * CHAINS — which concrete events linked, ids and timestamps — not
    * just per-stage counts ([[funnel]] is the aggregate twin and
    * this pins ITS anchor rule):
    *
    *   - the stage-0 anchor is the key's EARLIEST stage-0 event;
    *   - stage i anchors on the earliest stage-i event at/after the
    *     previous anchor and within `maxspan` of the stage-0 anchor
    *     (the whole-sequence window — first→last, EQL's maxspan);
    *   - timestamp ties break by smallest event id (`min(struct(ts,
    *     id))` — one lexicographic aggregation, deterministic under
    *     any shuffle);
    *   - only keys completing EVERY stage emit (EQL emits complete
    *     sequences); abandoned prefixes emit nothing.
    *
    * EQL's `until [type=u]` (round-18): an `until` event TERMINATES
    * a running sequence. Pinned to this operator's single-greedy-
    * automaton convention: the chain dies iff an until event falls
    * in `(t0, t_last]` — strictly after the stage-0 anchor (an until
    * AT the anchor instant precedes the anchor in the automaton's
    * (ts, stage) order, when no partial exists yet) and at/before
    * the final anchor (at equality the until processes FIRST and
    * kills the partial); a killed key never re-anchors (EQL's
    * multi-sequence restart is out of scope, stated). The until type
    * must not be a stage type.
    *
    * EQL's per-stage `where` filters (round-18): `wheres(i)` is a
    * SQL predicate over the event row gating stage i's events
    * (`[purchase where value >= 50]`) — Catalyst-compiled into the
    * stage's pushed scan filter, empty string = unfiltered.
    *
    * Plan shape: one monotone-join chain — each stage's events join
    * only the SURVIVING anchor frame (frames shrink stage over
    * stage), grouped per key; no window over the full event table,
    * no cross-stage explosion; the until check is one extra
    * key-bounded join against the last anchor frame. Earlier stages'
    * anchors ride FORWARD through the chain as per-key columns
    * (constant within a key, so `min` re-aggregates them exactly),
    * and the per-stage output rows explode from the one completed
    * frame at the end — each stage's events scan appears ONCE in the
    * plan, where the round-17 shape re-derived every anchor frame
    * per output stage (O(stages²) scans; r18 optimization). Output:
    * (user_id, stage_idx, stage, event_id, ts), one row per
    * completed key per stage, (user_id, stage_idx)-ordered. */
  def sequenceQuery(df: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, idCol: String, stages: Seq[String],
                    maxspanSec: Long, until: Option[String] = None,
                    wheres: Seq[String] = Nil): DataFrame = {
    require(stages.size >= 2,
      "a sequence needs at least two stages")
    require(stages.distinct.size == stages.size,
      "sequence stages must be distinct event types")
    require(maxspanSec > 0, s"maxspanSec must be positive: $maxspanSec")
    require(until.forall(u => !stages.contains(u)),
      s"the until type must not be a sequence stage: $until")
    require(wheres.isEmpty || wheres.size == stages.size,
      s"wheres must be empty or one predicate per stage " +
        s"(${stages.size}): ${wheres.size}")
    def events(stage: String) = {
      val idx = stages.indexOf(stage)
      val base = df.filter(col(typeCol) === lit(stage))
      val gated =
        if (idx >= 0 && wheres.nonEmpty && wheres(idx).nonEmpty)
          base.filter(expr(wheres(idx)))
        else base
      gated.select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("eid"))
    }
    val first = events(stages.head)
      .groupBy("u")
      .agg(min(struct(col("ts"), col("eid"))).as("a"))
      .select(col("u"), col("a.ts").as("t0"),
        col("a.ts").as("ts_0"), col("a.eid").as("eid_0"))
    // the chain carries every prior stage's (ts_i, eid_i) as per-key
    // columns: they are constant within a key after their stage's
    // aggregation, so re-aggregating them with `min` is exact — and
    // the completed frame at the end holds the WHOLE chain, so no
    // anchor frame is ever referenced (= recomputed) twice
    val chain = stages.zipWithIndex.tail.foldLeft(first) {
      case (prev, (stage, i)) =>
        val carried = prev.columns.toSeq.filter(_ != "u")
        events(stage)
          .join(prev, Seq("u"))
          .filter(col("ts") >= col(s"ts_${i - 1}") &&
            col("ts") <= col("t0") +
              expr(s"interval $maxspanSec seconds"))
          .groupBy("u")
          .agg(min(struct(col("ts"), col("eid"))).as("a"),
            carried.map(c => min(col(c)).as(c)): _*)
          .select((col("u") +: carried.map(col)) ++
            Seq(col("a.ts").as(s"ts_$i"),
              col("a.eid").as(s"eid_$i")): _*)
    }
    val lastTs = col(s"ts_${stages.size - 1}")
    val survived = until match {
      case None => chain
      case Some(u) =>
        // one key-bounded ANTI join: completed keys whose (t0,
        // t_last] window holds an until event die (the automaton's
        // until-first tie order at both boundaries — see scaladoc);
        // the range predicate rides in the join condition so the
        // chain frame is referenced once, not once per side
        val uEv = events(u).select(col("u").as("uu"),
          col("ts").as("uts"))
        chain.join(uEv,
          col("u") === col("uu") && col("uts") > col("t0") &&
            col("uts") <= lastTs,
          "left_anti")
    }
    val perStage = stages.indices.map(i =>
      struct(lit(i.toLong).as("stage_idx"),
        lit(stages(i)).as("stage"),
        col(s"eid_$i").as("event_id"), col(s"ts_$i").as("ts")))
    survived
      .select(col("u").as("user_id"),
        explode(array(perStage: _*)).as("e"))
      .select(col("user_id"), col("e.stage_idx").as("stage_idx"),
        col("e.stage").as("stage"), col("e.event_id").as("event_id"),
        col("e.ts").as("ts"))
      .orderBy("user_id", "stage_idx")
  }

  /** ES `date_range` aggregation: explicit [from, to) windows over a
    * timestamp column (from inclusive, to exclusive — ES's range
    * rule), open ends allowed (`None`), every requested range in the
    * output (empty → 0) in request order — ES keeps request order
    * for explicit ranges. Each range is a pair of pushdown-able
    * comparisons; the counts reduce in ONE conditional aggregation
    * pass (no per-range rescan). Output: (range_key, from_ts, to_ts,
    * doc_count). */
  def dateRange(df: DataFrame, tsCol: String,
                ranges: Seq[(String, Option[String], Option[String])])
      : DataFrame = {
    require(ranges.nonEmpty, "dateRange needs at least one range")
    val spark = df.sparkSession
    // boundary strings parse DRIVER-SIDE, inside a loud require: an
    // in-plan to_timestamp(lit(...)) turns a typo'd boundary into
    // null, the range condition evaluates null, and the window
    // silently reports doc_count 0 — a malformed REQUEST must error
    // (ES 400s it), only the DATA may be lenient. The parsed
    // timestamp then enters the plan as a literal, so pushdown is
    // unchanged. The wall-clock string converts to an instant in the
    // SESSION time zone (spark.sql.session.timeZone — the zone every
    // in-plan timestamp comparison uses), NOT the JVM default that
    // java.sql.Timestamp.valueOf would bake in: when the two zones
    // differ the boundaries must not silently shift by the offset.
    // Both ISO-8601 'T' and space separators are accepted.
    def parseTs(key: String, s: String): java.sql.Timestamp = {
      val txt =
        if (s.contains(" ") || s.contains("T")) s.replace(' ', 'T')
        else s + "T00:00:00"
      try {
        val zone = java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)
        java.sql.Timestamp.from(
          java.time.LocalDateTime.parse(txt).atZone(zone).toInstant)
      } catch {
        case _: java.time.format.DateTimeParseException |
             _: java.time.DateTimeException =>
          throw new IllegalArgumentException(
            s"date_range '$key': unparseable boundary '$s' " +
              "(expected yyyy-MM-dd[[T| ]HH:mm:ss[.f...]])")
      }
    }
    val conds: Seq[Column] = ranges.map { case (key, from, to) =>
      val lo = from.fold(lit(true))(f =>
        col(tsCol) >= lit(parseTs(key, f)))
      val hi = to.fold(lit(true))(t =>
        col(tsCol) < lit(parseTs(key, t)))
      lo && hi
    }
    val aggs = conds.zipWithIndex.map { case (c, i) =>
      // coalesce: sum over an EMPTY source is null — an empty index
      // still answers every requested range with doc_count 0 (ES)
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(s"c$i")
    }
    val counted = df.filter(col(tsCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    val keys = spark.createDataFrame(
      ranges.zipWithIndex.map { case ((key, from, to), i) =>
        (i, key, from.orNull, to.orNull)
      }).toDF("ord", "range_key", "from_ts", "to_ts")
    keys.crossJoin(broadcast(counted))
      .withColumn("doc_count",
        ranges.indices.foldLeft(lit(0L)) { (acc, i) =>
          when(col("ord") === i, col(s"c$i")).otherwise(acc)
        })
      .select("range_key", "from_ts", "to_ts", "doc_count", "ord")
      .orderBy("ord").drop("ord")
  }

  /** `change_point` aggregation — ES 8.x's series change detector
    * (the observability panel behind "when did the metric shift"),
    * with the algorithm PINNED DETERMINISTIC AND EXACT where ES
    * runs a sampled ML test:
    *
    *   - the series is the per-CALENDAR-bucket SUM of `valueCol`
    *     quantized on the `scale` lattice (cents → long, exact —
    *     the matrixStats/anomaly discipline), existing buckets only
    *     (no gap fill — ES's parent-histogram contract), bucket
    *     ascending;
    *   - the change point is the two-segment least-squares split:
    *     the candidate s maximizing the between-segment sum of
    *     squares, which reduces to maximizing
    *     gain(s) = D² / (n · n_l · n_r) with
    *     D = n_r·S_l − n_l·S_r over EXACT integer prefix sums —
    *     one fixed-shape double pipeline over exact integers, the
    *     repo's cross-engine determinism contract;
    *   - ties break on the EARLIEST split; each side keeps ≥ 2
    *     buckets (`require` n ≥ 4 — ES answers `indeterminable` on
    *     shorter series, this engine refuses loudly);
    *   - the reported bucket is the FIRST bucket of the new regime
    *     (ES's convention); `step_change` vs `dip`/`spike` typing
    *     is the caller's read of the two means, stated out.
    *
    * Scale shape: one partial+final aggregation to the bucket
    * series, then one window pass over the BUCKET-COUNT-sized frame
    * (series-sized, never row-sized — the WindowExec single
    * partition holds dozens of buckets). Output: (change_bucket,
    * n_before, n_after, mean_before, mean_after, gain), ONE row. */
  def changePoint(df: DataFrame, tsCol: String, valueCol: String,
                  interval: String = "month", scale: Long = 100L)
      : DataFrame = {
    require(Seq("year", "quarter", "month", "week", "day")
      .contains(interval), s"unsupported calendar interval: $interval")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val buckets = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(date_trunc(interval, col(tsCol)).as("bucket"))
      // the matrixStats lattice rule: round-then-cast (half-up on
      // both engines), exact for values that are lattice multiples
      .agg(sum(round(col(valueCol) * lit(scale.toDouble))
        .cast("long")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("bucket"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(asc("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val series = buckets
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("sl", sum(col("v")).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("v")).over(wAll))
      .withColumn("nxt", lead(col("bucket"), 1).over(w))
    // loud short-series refusal (ES: indeterminable) — one scalar
    val n0 = series.agg(max("n")).collect().headOption
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).getOrElse(0L)
    require(n0 >= 4,
      s"change_point needs at least 4 buckets (each side keeps 2): " +
        s"$n0")
    series
      .filter(col("idx") >= 2 && col("idx") <= col("n") - lit(2L))
      .withColumn("nl", col("idx"))
      .withColumn("nr", col("n") - col("idx"))
      .withColumn("d",
        (col("nr") * col("sl") - col("nl") * (col("s") - col("sl")))
          .cast("double"))
      .withColumn("gain",
        col("d") * col("d") /
          (col("n") * col("nl") * col("nr")).cast("double"))
      .orderBy(desc("gain"), asc("idx")).limit(1)
      .select(col("nxt").as("change_bucket"),
        col("nl").as("n_before"), col("nr").as("n_after"),
        (col("sl").cast("double") / col("nl").cast("double") /
          lit(scale.toDouble)).as("mean_before"),
        ((col("s") - col("sl")).cast("double") /
          col("nr").cast("double") / lit(scale.toDouble))
          .as("mean_after"),
        col("gain"))
  }
}
