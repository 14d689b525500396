package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table helpers: the shuffle-elimination half of the SCALE.md
  * story, made concrete. A fact-fact join (lineitem ⋈ orders on
  * orderkey) shuffles both sides on every run; bucketing both tables by
  * the join key at WRITE time moves that shuffle to ingestion, once —
  * subsequent joins read co-located buckets and the exchange disappears
  * from the plan (asserted in `BucketingSpec`, not just claimed).
  *
  * `bucketBy` requires a catalog table (`saveAsTable`) — bucket
  * metadata lives in the catalog, not the files.
  */
object Bucketing {

  /** Write `df` as a catalog table bucketed (and sorted) by `keys`.
    * Idempotent across sessions: an in-memory catalog forgets tables
    * between JVMs but leaves the warehouse files, and `saveAsTable`
    * refuses to adopt an orphaned location — so drop the table AND
    * clear any leftover location first.
    */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
                    keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    dropTableAndLocation(spark, tableName)
    df.write
      .format("parquet")
      .mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)
  }

  /** Short stable fingerprint of a staging key — suffixes staged table
    * / directory names so artifacts for different fixture corpora (or
    * layouts) can never shadow one another.
    */
  def fingerprint8(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)

  /** [[writeBucketed]] AT MOST ONCE per (catalog, fixture, layout) —
    * the staged form: the bucketed copy is ingest work, not query
    * work, so repeated query entries against one immutable fixture
    * must not pay for it again. `df` is by-name: when the table exists
    * the source frame is never constructed. Returns the staged table
    * name.
    */
  def ensureBucketed(spark: SparkSession, fixtureKey: String,
                     df: => DataFrame, baseName: String, numBuckets: Int,
                     keys: Seq[String]): String = {
    val name = s"${baseName}_${fingerprint8(
      s"$fixtureKey|$numBuckets|${keys.mkString(",")}")}"
    if (!spark.catalog.tableExists(name))
      writeBucketed(df, name, numBuckets, keys)
    name
  }

  /** [[zorderWrite]] AT MOST ONCE per (fixture, columns, layout): the
    * z-ordered copy is a write-once clustering of an immutable fixture,
    * staged under the JVM temp dir and reused across invocations in
    * the same filesystem lifetime (`_SUCCESS` is the completion
    * marker, so a torn write re-stages). Returns the staged directory.
    */
  def ensureZordered(spark: SparkSession, fixtureKey: String,
                     df: => DataFrame, cols: Seq[String], baseName: String,
                     bits: Int = 8, numFiles: Int = 16): String = {
    // "z2" = deterministic-boundary layout version: a staged dir from
    // the earlier sampled-boundary zorderWrite must not be adopted
    val fp = fingerprint8(
      s"$fixtureKey|$baseName|z2|${cols.mkString(",")}|$bits|$numFiles")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_z_${baseName}_$fp")
    atomicStage(dir)(tmp => zorderWrite(df, tmp.getPath, cols, bits,
      numFiles))
    dir.getPath
  }

  /** Hive-partitioned staged copy — the third layout lever next to
    * bucketing (join co-location) and z-order (multi-column range
    * skipping): `partitionBy` puts each partition-column value in its
    * own directory, so an equality/IN predicate on that column prunes
    * whole directories at PLANNING time (`PartitionFilters` in the
    * scan, before any file or footer is touched). Staged AT MOST ONCE
    * per (fixture, columns) under the JVM temp dir, `_SUCCESS` as the
    * completion marker — same contract as [[ensureZordered]]. Returns
    * the staged directory.
    */
  def ensurePartitioned(spark: SparkSession, fixtureKey: String,
                        df: => DataFrame, partCols: Seq[String],
                        baseName: String): String = {
    require(partCols.nonEmpty, "ensurePartitioned needs partition columns")
    val fp = fingerprint8(
      s"$fixtureKey|$baseName|part|${partCols.mkString(",")}")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_p_${baseName}_$fp")
    atomicStage(dir)(tmp =>
      df.write.mode("overwrite").partitionBy(partCols: _*)
        .parquet(tmp.getPath))
    dir.getPath
  }

  /** [[ensurePartitioned]] and [[zorderWrite]] COMPOSED — the
    * production lakehouse layout: COARSE pruning by a categorical
    * partition column (whole directories drop at planning time,
    * `PartitionFilters`), FINE multi-column range skipping by z-order
    * within each partition (row groups drop at scan time via footer
    * stats). One [[zorderWrite]] per partition value into its
    * `col=value/` directory; the root `_SUCCESS` marker lands only
    * after every partition finished, so a torn staging re-runs
    * (per-partition overwrite makes that idempotent).
    *
    * The distinct-values collect is bounded BY DESIGN: a hive
    * partition column names directories, so its cardinality is small
    * (lang, date, source — not ids). The per-partition writes are
    * independent jobs — sequential here; at ingest scale they submit
    * concurrently exactly like `SparkEntry.stage`'s futures.
    */
  def ensurePartitionedZordered(spark: SparkSession, fixtureKey: String,
      df: => DataFrame, partCol: String, zCols: Seq[String],
      baseName: String, bits: Int = 8, numFiles: Int = 4): String = {
    val fp = fingerprint8(s"$fixtureKey|$baseName|pz1|$partCol|" +
      s"${zCols.mkString(",")}|$bits|$numFiles")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_pz_${baseName}_$fp")
    atomicStage(dir) { tmp =>
      val src = df
      val vals = src.select(partCol).distinct().collect()
        .map(_.get(0).toString).sorted
      vals.foreach { v =>
        zorderWrite(src.filter(col(partCol) === v).drop(partCol),
          new java.io.File(tmp, s"$partCol=$v").getPath,
          zCols, bits, numFiles)
      }
    }
    dir.getPath
  }

  /** Small-file compaction — the lake-maintenance half of ingest
    * hygiene. Streaming sinks, per-request bulk writes and incremental
    * batches leave behind directories of KB-scale files; at 100 TB the
    * resulting task-per-file scheduling and footer overhead dominate
    * scan cost. Compaction rewrites the directory into ~`targetBytes`
    * files: the file count comes from the ACTUAL on-disk byte size
    * (not a row-count guess), rows are round-robin repartitioned so
    * output files are uniform, and the rewrite goes to a temp sibling
    * first. The swap is two renames — original → `.compact-old`, then
    * rewrite → dir — so the original is never deleted before the
    * rewrite is in place: a crash between the renames leaves the full
    * original recoverable at `.compact-old` (never a deleted-and-gone
    * window); the backup is removed only after the rewrite is live.
    * Returns (filesBefore, filesAfter).
    *
    * Scope guard: compaction handles FLAT directories of parquet files
    * only. A hive-partitioned layout (subdirectories) would be read
    * with its partition columns folded into the data and rewritten as
    * one unpartitioned directory — the partitioning silently destroyed
    * — so any subdirectory is a hard refusal, as is a directory with
    * data files but no `*.parquet` (sizing by parquet bytes would see 0
    * and the rewrite would drop the non-parquet files on the swap).
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compactWith(spark, dir, targetBytes) { (df, nOut, tmp) =>
      df.repartition(nOut).write.mode("overwrite").parquet(tmp)
    }

  /** [[compact]] preserving — or retrofitting — a z-order layout:
    * plain compaction round-robins rows across output files, which
    * DESTROYS the narrow per-file envelopes a clustered directory's
    * scans depend on; this variant rewrites through [[zorderWrite]],
    * so lake maintenance (many small files → few right-sized files)
    * and clustering maintenance (fragmented envelopes → tight
    * envelopes) are ONE pass instead of compact-then-recluster
    * reading the data twice. Same guards and two-rename atomic swap
    * as [[compact]].
    */
  def compactZordered(spark: SparkSession, dir: String,
      cols: Seq[String], targetBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8): (Int, Int) =
    compactWith(spark, dir, targetBytes) { (df, nOut, tmp) =>
      zorderWrite(df, tmp, cols, bits, nOut)
    }

  private def compactWith(spark: SparkSession, dir: String,
      targetBytes: Long)(
      rewrite: (org.apache.spark.sql.DataFrame, Int, String) => Unit)
      : (Int, Int) = {
    def parquetFiles(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val d = new java.io.File(dir)
    val entries = Option(d.listFiles()).getOrElse(Array.empty)
    // `_temporary` / dot-dirs are crashed-write leftovers, recreatable —
    // they must not block compaction; `_spark_metadata` is a streaming
    // sink's commit log and real data subdirectories are a partitioned
    // layout — both would be corrupted by the flat rewrite+swap
    val subdirs = entries.filter(f => f.isDirectory &&
      f.getName != "_temporary" && !f.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"compact($dir): refusing a partitioned/nested/streaming layout — " +
        s"subdirectories present: ${subdirs.take(3).map(_.getName).mkString(", ")}")
    val before = parquetFiles(d)
    // metadata sidecars (_SUCCESS, .crc, …) are recreated by the rewrite;
    // anything else alongside zero parquet files means this is not a
    // parquet dataset directory
    val strays = entries.filter(f => f.isFile &&
      !f.getName.endsWith(".parquet") &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    require(before.nonEmpty,
      s"compact($dir): no *.parquet files to compact" +
        (if (entries.nonEmpty) s" (directory is non-empty: ${entries.length} entries)" else ""))
    require(strays.isEmpty,
      s"compact($dir): non-parquet data files would be lost on swap: " +
        strays.take(3).map(_.getName).mkString(", "))
    val totalBytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new java.io.File(dir.stripSuffix("/") + ".compact-tmp")
    val old = new java.io.File(dir.stripSuffix("/") + ".compact-old")
    rewrite(spark.read.parquet(dir), nOut, tmp.getPath)
    deleteRecursively(old) // leftover backup from an interrupted prior run
    require(d.renameTo(old), s"compaction swap: cannot move $dir aside")
    if (!tmp.renameTo(d)) {
      old.renameTo(d) // restore the original before failing
      throw new IllegalStateException(s"compaction swap failed: $tmp -> $dir")
    }
    deleteRecursively(old)
    (before.length, parquetFiles(d).length)
  }

  /** Z-order clustered write — the multi-column data-skipping layout.
    * Sorting by a lexicographic key gives narrow per-file min/max
    * envelopes on the FIRST column only; interleaving the bits of every
    * clustered column's bucket rank into one z-value and range-sorting
    * by it gives narrow envelopes on ALL of them, so parquet
    * row-group/file pruning works for predicates on any clustered
    * column. This is the layout lever that turns a 100 TB full scan
    * into a handful of file reads for selective multi-dimension
    * filters (Delta/Iceberg OPTIMIZE ZORDER is this same construction).
    *
    * Bucket ranks here are linear min/max scaling — one agg pass whose
    * 1-row result rides back as a broadcast (no collect); production
    * layouts use approx-quantile splits instead when value skew is
    * heavy (same z construction, different rank function).
    *
    * The file split is DETERMINISTIC, not sampled: `repartitionByRange`
    * picks range boundaries by reservoir-sampling the input with
    * RDD-id-derived seeds, so the same data laid out twice (or after a
    * different scan-split history) lands in different files — a layout
    * job must be replayable byte-for-byte. Instead: one exact, bounded
    * histogram of the z-space (≤ [[ZHistCells]] cells — a CONSTANT, so
    * the driver read is O(1) like every other bounded collect in this
    * repo) gives cumulative-count boundaries — skew-aware, since cell
    * counts are exact. Placement then hash-partitions on a per-file
    * preimage key chosen so `pmod(murmur3(key), numFiles) == fileId`,
    * i.e. each file index maps to exactly its own shuffle partition —
    * still ONE shuffle, fully parallel, no global sort task, and the
    * same rows land in the same files on every run.
    */
  def zorderWrite(df: DataFrame, outDir: String, cols: Seq[String],
                  bits: Int = 8, numFiles: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val k = cols.size
    val effBits = math.max(1, math.min(bits, 63 / k))
    val helper = cols.flatMap(c => Seq(s"_zmn_$c", s"_zmx_$c")) ++
      (0 until k).map(j => s"_zb_$j") ++ Seq("_z", "_zcell", "_zpf")
    val zed = zorderFrame(df, cols, bits)
    // Exact z-histogram at bounded granularity: z-space spans
    // effBits*k bits; coarsen to ≤ log2(ZHistCells) high bits so the
    // groupBy result is ≤ ZHistCells rows regardless of data size.
    val zBits = effBits * k
    val cellShift = math.max(0, zBits - ZHistCellBits)
    val cells = zed
      .groupBy(shiftright(col("_z"), cellShift).as("_zcell"))
      .agg(count(lit(1)).as("_zn"))
      .orderBy("_zcell")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = cells.map(_._2).sum
    // Boundary b_f = first cell at/after which cumulative mass reaches
    // f/numFiles of the total; fileId(cell) = #{b : cell >= b}.
    // Thresholds in BigInt: `total * f` overflows Long once row counts
    // pass ~Long.MaxValue/numFiles, and a silent wrap here would
    // corrupt boundary placement. Same floor-division value at every
    // magnitude, so small-scale layouts are bit-identical.
    val boundaries = {
      var cum = 0L
      val bs = Array.newBuilder[Long]
      var f = 1
      for ((cell, n) <- cells) {
        cum += n
        while (f < numFiles && total > 0 &&
          BigInt(cum) >= BigInt(total) * f / numFiles) {
          bs += cell + 1; f += 1
        }
      }
      bs.result()
    }
    val fileId = boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(shiftright(col("_z"), cellShift) >= b, 1).otherwise(0)
    }
    val pre = partitionPreimages(numFiles)
    val preCol = element_at(
      array(pre.map(p => lit(p)): _*), fileId + 1)
    zed
      .withColumn("_zpf", preCol)
      .repartition(numFiles, col("_zpf"))
      .sortWithinPartitions("_z")
      .drop(helper: _*)
      .write.mode("overwrite").parquet(outDir)
  }

  /** Upper bound on z-histogram cells (2^12 = 4096): caps the one
    * bounded driver collect in [[zorderWrite]] at a constant.
    */
  private val ZHistCellBits = 12
  private[engine] val ZHistCells: Int = 1 << ZHistCellBits

  /** For each shuffle partition `i` of a hash-`repartition(n, key)`,
    * an Int key whose Spark partition id is exactly `i` — Spark places
    * a row at `pmod(murmur3(key, seed=42), n)`, so brute-force the
    * first preimage per slot (tiny driver search, expected O(n ln n)
    * probes; independent of data). Lets a DataFrame pipeline address
    * shuffle partitions EXACTLY without sampling or RDD partitioners.
    */
  private[engine] def partitionPreimages(n: Int): Array[Int] = {
    val out = Array.fill(n)(-1)
    var found = 0
    var k = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42)
      val slot = ((h % n) + n) % n
      if (out(slot) < 0) { out(slot) = k; found += 1 }
      k += 1
    }
    out
  }

  /** `df` plus the interleaved `_z` column (and rank/stat helpers) —
    * split out from [[zorderWrite]] so the z construction itself is
    * testable: the write drops `_z`, but its sign and monotonicity
    * properties are where interleave bugs live.
    *
    * The z-value is a signed Long: the highest bit position used is
    * bits*k-1, which must stay below bit 63 — bit 63 is the sign bit,
    * and a z-value with it set sorts BEFORE every non-negative z-value,
    * silently corrupting the range-sort (8 columns at the default
    * bits=8 would hit exactly that; >8 columns would wrap the shift
    * past 63 and collide positions). So the per-column bits are capped
    * from k instead: 8 cols → 7 bits, 16 cols → 3.
    */
  private[engine] def zorderFrame(df: DataFrame, cols: Seq[String],
                                  bits: Int): DataFrame = {
    require(cols.nonEmpty, "zorderWrite needs at least one column")
    import org.apache.spark.sql.functions._
    val k = cols.size
    require(k <= 63, s"zorderWrite: cannot interleave $k columns into 63 bits")
    val effBits = math.max(1, math.min(bits, 63 / k))
    // Long shift: an Int `1 << effBits` wraps mod 32, so k=1 with a
    // caller bits >= 32 would collapse every rank to 0 silently.
    val maxB = (1L << effBits) - 1
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"_zmn_$c"),
      max(col(c)).cast("double").as(s"_zmx_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val ranked = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(stats))) {
      case (acc, (c, j)) =>
        val span = when(col(s"_zmx_$c") > col(s"_zmn_$c"),
          col(s"_zmx_$c") - col(s"_zmn_$c")).otherwise(lit(1.0))
        acc.withColumn(s"_zb_$j",
          least(lit(maxB.toLong), greatest(lit(0L),
            floor((col(c).cast("double") - col(s"_zmn_$c")) / span *
              maxB).cast("long"))))
    }
    val zExpr = (0 until effBits).flatMap(i => (0 until k).map(j =>
      s"shiftleft(shiftright(_zb_$j, $i) & 1, ${i * k + j})"))
      .mkString(" + ")
    ranked.withColumn("_z", expr(zExpr))
  }

  private def deleteRecursively(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Recursive delete for staged-artifact maintenance (the
    * [[graft.engine.ZoneMap.compactManifest]] fold path). */
  def deleteTree(f: java.io.File): Unit = deleteRecursively(f)

  /** Reclaim crashed stagers' leftovers — the [[atomicStage]] sibling
    * of [[graft.engine.ZoneMap.vacuum]]: a JVM that dies mid-build
    * leaves a `<name>.stage-<uuid>` directory (a build that never
    * renamed), and one that dies between the aside-rename and the
    * deferred delete leaves `<name>.old-<uuid>` (a superseded complete
    * dir). Both are invisible to readers by construction — this is
    * pure space reclamation. Deletes directories under `parent` whose
    * name starts with one of `prefixes` and carries a `.stage-` /
    * `.old-` infix, but ONLY when nothing in the tree was modified in
    * the last `olderThanMs`: a LIVE concurrent stager keeps writing
    * into its tmp dir, refreshing mtimes, so an age threshold covering
    * the longest plausible build keeps vacuum from pulling a
    * directory out from under it — the Delta VACUUM retention
    * argument. Returns the number of directories reclaimed.
    * Driver-side listing walk; never a data scan.
    */
  def vacuumStaging(parent: java.io.File, prefixes: Seq[String],
                    olderThanMs: Long = 3600L * 1000): Int = {
    val now = System.currentTimeMillis()
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +:
          Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
      else f.lastModified()
    val orphans = Option(parent.listFiles()).toSeq.flatten.filter { f =>
      f.isDirectory && {
        val n = f.getName
        (n.contains(".stage-") || n.contains(".old-")) &&
          prefixes.exists(n.startsWith)
      } && now - newestMtime(f) >= olderThanMs
    }
    orphans.foreach(deleteRecursively)
    orphans.size
  }

  /** Cross-JVM-safe staged-artifact publication: `build` writes into a
    * fresh UUID-suffixed sibling, a `_SUCCESS` marker lands INSIDE it,
    * and ONE atomic rename publishes the finished directory. Two JVMs
    * staging the same artifact concurrently (a test suite and a
    * Verify/Bench run share /tmp on one box; two executog hosts share
    * a staging prefix on a cluster) each build privately — the loser's
    * rename fails and its copy is discarded, so the published dir is
    * always exactly one writer's complete output, never an interleaving
    * of two jobs' files. The check-marker/rebuild contract is unchanged
    * (`_SUCCESS` present ⇒ adopt); a torn non-atomic dir from a crashed
    * older staging carries no marker and is cleared before the rename.
    */
  def atomicStage(dir: java.io.File, force: Boolean = false,
      stageParent: Option[java.io.File] = None)(
      build: java.io.File => Unit): Unit = {
    if (!force && new java.io.File(dir, "_SUCCESS").isFile) return
    // `stageParent` relocates the in-flight build: a target living
    // INSIDE a directory readers scan by listing (e.g. a `seg=<id>`
    // subtree of a partition-discovered index) must stage somewhere
    // those listings never look, or the half-built sibling becomes
    // visible before its rename. Same filesystem required (the
    // publish rename must stay atomic).
    val tmp = new java.io.File(stageParent.getOrElse(dir.getParentFile),
      dir.getName + ".stage-" +
        java.util.UUID.randomUUID().toString.take(8))
    try {
      build(tmp)
      // Spark dir writes create their own _SUCCESS; manual builders
      // may not — the marker must exist BEFORE publication
      val marker = new java.io.File(tmp, "_SUCCESS")
      if (!marker.isFile) marker.createNewFile()
      // `force` replaces a complete dir (the caller decided its
      // content is superseded — e.g. a rebuilt catalog half must take
      // its appended-batches half down with it). A COMPLETE published
      // dir is renamed ASIDE first — two atomic renames, not
      // delete-then-move — so a reader in another JVM mid-scan sees
      // either the old complete dir or the new one, never a
      // half-deleted tree (the compactZordered swap shape); only a
      // torn, markerless dir is cleared in place. Without `force` a
      // complete dir another staging published meanwhile stays put:
      // the publish below collides and adopts it.
      var stale: Option[java.io.File] = None
      if (dir.exists()) {
        if (!new java.io.File(dir, "_SUCCESS").isFile) deleteRecursively(dir)
        else if (force) {
          val aside = new java.io.File(dir.getParentFile,
            dir.getName + ".old-" +
              java.util.UUID.randomUUID().toString.take(8))
          Fs.renameNoReplace(dir, aside)
          stale = Some(aside)
        }
      }
      // the publish itself goes through the portable commit seam
      // ([[Fs]]): HDFS-atomic, conditional-put on object stores
      Fs.renameNoReplace(tmp, dir)
      stale.foreach(deleteRecursively)
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.FileSystemException
          if new java.io.File(dir, "_SUCCESS").isFile =>
        // another staging published first (equally fresh under force —
        // both builders rebuilt from the same immutable fixture) —
        // adopt theirs, drop ours
        deleteRecursively(tmp)
      case e: Throwable =>
        deleteRecursively(tmp)
        throw e
    }
  }

  /** Drop `tableName` from the catalog AND clear any leftover warehouse
    * location — the one idempotence preamble every bucketed-table
    * writer needs: an in-memory catalog forgets tables between JVMs but
    * leaves the warehouse files, and `saveAsTable` refuses to adopt an
    * orphaned location. The location uses the LOWERCASED name (Spark
    * lowercases unquoted identifiers at catalog time), so a mixed-case
    * `tableName` must not delete a same-cased path and miss the real
    * one.
    */
  def dropTableAndLocation(spark: SparkSession, tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (warehouse.contains(":"))
      new java.io.File(new java.net.URI(warehouse).getPath)
    else new java.io.File(warehouse)
    deleteRecursively(new java.io.File(root,
      tableName.toLowerCase(java.util.Locale.ROOT)))
  }
}
