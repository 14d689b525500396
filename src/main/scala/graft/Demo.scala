package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.gate.QueryGate
import graft.operators.{Dedup, Indexer, Pipeline, Similarity}

/** End-to-end showcase of the two reference paths plus the LLM-pipeline
  * extension, runnable standalone:
  * `sbt "runMain graft.Demo [sfDir]"`.
  *
  * 1. E1 (reference `GET /query/`): validate + execute a SELECT.
  * 2. E2 (reference `POST /elastic/save/`): bulk-index the result with
  *    sequential ids, report docs/sec.
  * 3. Extension: dedup → split → index the clean training corpus.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = Files.createTempDirectory("graft-demo").toString
    val spark = Run.session()

    // --- E1: the gated query path ---
    Tables.register(spark, sfDir)
    val result = QueryGate.runQuery(spark, "parquet", sfDir,
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 200000""".stripMargin)
    println(s"[demo] E1 query rows: ${result.count()}")

    // gate rejections surface as typed errors, like the reference's 401/400
    try QueryGate.runQuery(spark, "parquet", sfDir, "DROP TABLE orders")
    catch { case e: graft.gate.EngineError =>
      println(s"[demo] E1 gate rejected DDL with code ${e.code}") }

    // --- E2: bulk-index the result with sequential ids ---
    val stats = Indexer.bulkIndex(result, out, "orders_idx",
      orderBy = Seq(col("o_orderkey")), numWorkers = 4)
    println(s"[demo] E2 indexed: ${stats.jsonLine}")

    // --- LLM pipeline: dedup -> split -> chunk ---
    val docs = Tables.table(spark, sfDir, "documents")
    val kept = Dedup.exactDedup(docs).filter(!col("is_dup"))
      .select("doc_id", "text")
    val nearDups = Dedup.minhashNearDups(kept, threshold = 0.8)
    val dropB = nearDups.select(col("doc_b").as("doc_id")).distinct()
    val clean = kept.join(dropB, Seq("doc_id"), "left_anti")
    val split = Pipeline.split(clean)
    val trainChunks = Pipeline.chunk(
      split.filter(col("split") === "train").select("doc_id", "text"))
    println(s"[demo] docs=${docs.count()} kept=${clean.count()} " +
      s"train_chunks=${trainChunks.count()}")

    // --- similarity: IVF index + one query ---
    val emb = Tables.table(spark, sfDir, "embeddings")
    Similarity.buildIvfIndex(emb, s"$out/ivf")
    val q = emb.limit(1)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .collect()(0).getSeq[Double](0).toArray
    val hits = Similarity.searchIvf(spark, s"$out/ivf", q, k = 3).count()
    println(s"[demo] ivf hits: $hits")

    spark.stop()
  }
}
