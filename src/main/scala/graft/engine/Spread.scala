package graft.engine

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for CPU-dense per-row operators
  * (optimization round 18, guide §2.5/§6).
  *
  * Spark sizes scan splits by BYTES (`maxPartitionBytes`, with the
  * `openCostInBytes` floor and one row group as the smallest unit),
  * which assumes scan cost is proportional to bytes read. The text
  * operators break that assumption: tokenize → shingle → hash chains
  * cost orders of magnitude more CPU per byte than a plain scan, so a
  * corpus smaller than (cores × split size) — or packed into fewer row
  * groups than the cluster has cores — plans fewer scan tasks than
  * cores and the whole shingling pass runs on a handful of them.
  * Measured via `graft.Run probe` at sf0.1/local[32]: every
  * dedup-family query spent 0.4–1.0 s in 1–2-task scan stages with 30
  * cores idle (the fixture is one single-row-group file).
  *
  * [[cpuHeavy]] redistributes rows to `defaultParallelism` partitions
  * ONLY when the frame's planned partitioning cannot fill the cluster
  * (partitions < cores). The condition derives from the actual plan
  * and the actual cluster — no constant tuned for either local mode or
  * any cluster size:
  *
  *  - At 100 TB the scan plans orders of magnitude more partitions
  *    than cores and this is an identity — zero cost, zero plan change.
  *  - Below that, one round-robin exchange of the input rows (bounded
  *    by cores × split size by the very condition that triggers it)
  *    buys full-cluster parallelism for the expensive per-row work.
  *
  * Use it ONLY where the operator already shuffles downstream (the
  * added exchange moves compact doc rows BEFORE the explode, strictly
  * cheaper than the gram/shingle shuffle that follows); map-only
  * operators (ingest pipelines, chunking, PII scrub) and operators
  * whose contract pins an unshuffled input subtree (decontamination's
  * broadcast probe) must NOT use it — an exchange there is pure
  * addition at every scale.
  *
  * Round-robin `repartition(n)` is deterministic under retries
  * (sort-before-repartition, SPARK-23207) and every consumer here is
  * an order-pinned aggregation/join, so results are bit-identical —
  * re-verified against the DuckDB oracle after wiring.
  */
object Spread {
  def cpuHeavy(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // getNumPartitions only plans (no job); the pre-AQE partitioning
    // is exactly the scan-task count the condition needs
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
