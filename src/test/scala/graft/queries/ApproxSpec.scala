package graft.queries

import org.apache.spark.sql.Row

import graft.{SparkEntry, SparkSpec}
import graft.engine.Tables

/** q43's output embeds its own accuracy contract: the DataSketches HLL
  * estimate (lgK 14) is engine-specific, so the query emits exact
  * distinct counts plus boolean ≤5%-relative-error checks, and the
  * DuckDB oracle pins the booleans to literal TRUE. This spec exercises
  * the same bound at a non-trivial scale (sf0.1 — the bench SF, ~240k
  * distinct partkeys across groups), so a sketch regression fails here
  * AND in the driver's hash compare. DataSketches unions are not
  * partition-invariant, so the bound is also held across input and
  * shuffle partitionings.
  */
class ApproxSpec extends SparkSpec {

  test("approx_percentile within 1% of exact percentile at sf0.1") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val rows = li.groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"),
        expr("percentile(l_extendedprice, 0.5)").as("ex"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ap, ex) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(ap - ex) / ex < 0.01, s"group ${r.get(0)}: $ap vs $ex")
    }
  }

  private def assertWithinTol(rows: Seq[Row], where: String): Unit = {
    assert(rows.nonEmpty, where)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parts_within_tol"),
        s"$where group ${r.get(0)}: partkey sketch out of 5% tolerance " +
          s"(exact=${r.getAs[Long]("exact_parts")})")
      assert(r.getAs[Boolean]("orders_within_tol"),
        s"$where group ${r.get(0)}: orderkey sketch out of 5% tolerance " +
          s"(exact=${r.getAs[Long]("exact_orders")})")
    }
  }

  test("q43: HLL sketch estimate within 5% of exact at sf0.1") {
    val df = SparkEntry.queries("q43_approx_distinct")(spark, "/root/testdata/sf0.1")
    // The schema q43's output is written with, nullability included:
    // the physical plan's, after the distinct-aggregate rewrite.
    val schema = df.queryExecution.executedPlan.schema
    assert(schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
      ("l_returnflag", "string", true), ("exact_parts", "bigint", false),
      ("exact_orders", "bigint", false), ("parts_within_tol", "boolean", false),
      ("orders_within_tol", "boolean", false)), schema.treeString)
    assertWithinTol(df.collect().toSeq, "sf0.1")
  }

  test("q43: within 5% under shuffle partitions 1/4/16 and re-partitioned input at sf0.01") {
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val results = try {
      for (n <- Seq(1, 4, 16); (input, frame) <- Seq("files" -> li, "repartition(3)" -> li.repartition(3)))
      yield {
        spark.conf.set(key, n.toString)
        val rows = SqlSurface.approxDistinct(frame).collect().toSeq
        assertWithinTol(rows, s"shuffle=$n input=$input")
        rows
      }
    } finally spark.conf.set(key, before)
    // The exact columns must not move with partitioning.
    val exact = results.map(_.map(r => (r.get(0), r.get(1), r.get(2))))
    assert(exact.distinct.size == 1, exact.mkString("\n"))
  }
}
