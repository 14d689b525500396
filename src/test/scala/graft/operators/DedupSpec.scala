package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different words about spark engines here"),
    (5L, "tiny doc")) // < 3 tokens → no shingles
    .toDF("doc_id", "text")

  test("exactDedup keeps min doc_id per group and flags the rest") {
    val out = Dedup.exactDedup(docs)
      .select("doc_id", "keep_id", "is_dup", "group_size")
      .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(out(0) == (1L, 1L, false, 2L))
    assert(out(1) == (2L, 1L, true, 2L))
    assert(out(2) == (3L, 3L, false, 1L))
    assert(out(4) == (5L, 5L, false, 1L))
  }

  test("paragraphDedup: first occurrence wins, docs reassemble in " +
    "order, fully-seen docs go empty") {
    val d = Seq(
      (1L, "alpha|shared|beta"),
      (2L, "shared|gamma"),
      (3L, "shared"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "|")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1 owns every segment's first occurrence — untouched
    assert(out(0) == ((1L, "alpha|shared|beta", 3L, 3L)))
    // doc 2 loses the shared footer but keeps its own paragraph
    assert(out(1) == ((2L, "gamma", 2L, 1L)))
    // doc 3 was nothing BUT boilerplate — the drop-candidate signal
    assert(out(2) == ((3L, "", 1L, 0L)))
    // determinism: a different input layout reassembles identically
    val again = Dedup.paragraphDedup(d.repartition(7), "|")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == out)
  }

  test("exactSubstrDedup: first occurrence survives, overlapping doomed " +
    "spans union, within-doc repeats collapse, copies go empty") {
    val d = Seq(
      (1L, "p q r s t"),            // owns every gram's first occurrence
      (2L, "m p q r s n"),          // repeats "p q r","q r s" at pos 1,2
      (3L, "z z z z"),              // within-doc overlap of "z z z"
      (4L, "p q r s t"),            // verbatim copy of doc 1
      (5L, "xx yy"))                // shorter than n → untouched
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(d, n = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L, "p q r s t", 5L, 0L)))
    // doc 2's doomed occurrences at pos 1 and 2 span [1,3] and [2,4]:
    // the union [1,4] leaves exactly the boundary tokens m and n
    assert(out(1) == ((2L, "m n", 6L, 4L)))
    // "z z z" at pos 0 is first; pos 1 dooms [1,3] → one z survives
    assert(out(2) == ((3L, "z", 4L, 3L)))
    // every position of the verbatim copy is covered → empty rebuild
    assert(out(3) == ((4L, "", 5L, 5L)))
    assert(out(4) == ((5L, "xx yy", 2L, 0L)))
    // determinism: physical layout cannot perturb the keep-rule
    val again = Dedup.exactSubstrDedup(d.repartition(7), n = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == out)
  }

  test("minhash signature is identical for identical texts") {
    val sigs = Dedup.minhashSignatures(TextOps.withShingles(docs))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).length == 64)
    assert(!sigs.contains(5L)) // no shingles → no signature row
  }

  test("minhashNearDups finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("dupClusters closes pair chains transitively (A~B, B~C → one cluster)") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3, pair 4-5, singleton 9; (1,3) deliberately NOT a pair
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(ids, pairs)
      .select("doc_id", "cluster", "is_canonical")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
    assert(out.filter(_._3).map(_._1).toSeq == Seq(1L, 4L, 9L))
  }

  test("dupClusters resolves a 32-link chain (pointer doubling, not O(d) rounds)") {
    val n = 32
    val ids = (1L to n.toLong).toDF("doc_id")
    val chain = (1L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(ids, chain)
      .select("doc_id", "cluster").as[(Long, Long)].collect()
    assert(out.length == n)
    assert(out.forall(_._2 == 1L), out.filter(_._2 != 1L).mkString(","))
  }

  test("dupClusters: singleton-heavy corpus (the realistic shape) resolves") {
    // 1000 docs, only 5 edge-incident — the loop must not depend on the
    // 995 singletons, and they must still come back as their own cluster
    val ids = (1L to 1000L).toDF("doc_id")
    val pairs = Seq((7L, 9L), (9L, 11L), (500L, 900L)).toDF("doc_a", "doc_b")
    val m = Dedup.dupClusters(ids, pairs)
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(m.size == 1000)
    assert(m(7L) == 7L && m(9L) == 7L && m(11L) == 7L)
    assert(m(500L) == 500L && m(900L) == 500L)
    assert((1L to 1000L).filterNot(Set(7L, 9L, 11L, 500L, 900L))
      .forall(i => m(i) == i))
  }

  test("ngram prefix filter prunes candidates without losing true pairs") {
    val corpus = spark.read.parquet(s"$sf001/documents.parquet")
    val shingled = TextOps.withShingles(corpus)
      .withColumn("n_sh", expr("bigint(size(shingles))"))
      .select("doc_id", "n_sh", "shingles")
    val t = 0.4
    // baseline: every co-occurring pair (full postings, no length filter)
    val full = Dedup.ngramCandidates(shingled, 0.0, prefixFilter = false)
    val pruned = Dedup.ngramCandidates(shingled, t)
    val (nFull, nPruned) = (full.count(), pruned.count())
    assert(nPruned < nFull,
      s"prefix+length filter pruned nothing: $nPruned vs $nFull")
    info(s"candidate pairs: $nFull unfiltered -> $nPruned prefix-filtered")
    // exactness: the verified result sets are identical (recall 1)
    def verified(c: org.apache.spark.sql.DataFrame) =
      Dedup.verifyJaccard(c, shingled.select("doc_id", "shingles"))
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified(pruned) == verified(full))
  }

  test("ngramJaccardPairs: exact dup has jaccard 1.0; sim order sane") {
    val rows = Dedup.ngramJaccardPairs(docs, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(rows((1L, 2L)) == 1.0)
    assert(rows((1L, 3L)) > 0.4 && rows((1L, 3L)) < 1.0)
    assert(!rows.contains((1L, 4L)))
  }

  test("LSH candidates are a superset of verified near-dups (two-phase)") {
    val sf = spark.read.parquet(s"$sf001/documents.parquet")
    val shingled = TextOps.withShingles(sf)
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(shingled))
      .as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashNearDups(sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cands))
    assert(verified.nonEmpty)
  }

  test("shared pair stage equals fresh; content fingerprint invalidates") {
    val work = java.nio.file.Files.createTempDirectory("pair-stage").toString
    val sf = spark.read.parquet(s"$sf001/documents.parquet")
    val fresh = Dedup.minhashNearDups(sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val staged = Dedup.minhashNearDupsShared(sf, 0.8, workRoot = work)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(staged == fresh && staged.nonEmpty)
    // second call reuses the stage (no new stage dir)
    val nDirs = new java.io.File(work).list().length
    assert(Dedup.minhashNearDupsShared(sf, 0.8, workRoot = work).count() ==
      fresh.size)
    assert(new java.io.File(work).list().length == nDirs)
    // a changed corpus must mint a NEW stage, not reuse the stale one
    val changed = sf.withColumn("text",
      when(col("doc_id") === 1L, concat(col("text"), lit(" zzz")))
        .otherwise(col("text")))
    Dedup.minhashNearDupsShared(changed, 0.8, workRoot = work).count()
    assert(new java.io.File(work).list().length == nDirs + 1)
    // SAME texts under a different id assignment must ALSO mint a new
    // stage — the staged pairs are id pairs, so id-blind reuse would
    // return pairs referring to the old assignment
    val reassigned = sf.withColumn("doc_id",
      when(col("doc_id") === 0L, lit(9999L)).otherwise(col("doc_id")))
    Dedup.minhashNearDupsShared(reassigned, 0.8, workRoot = work).count()
    assert(new java.io.File(work).list().length == nDirs + 2)
  }

  test("shared pair stage: a crashed writer's leftover is rebuilt cleanly") {
    val work = java.nio.file.Files.createTempDirectory("pair-crash").toString
    val sf = spark.read.parquet(s"$sf001/documents.parquet")
    val n = Dedup.minhashNearDupsShared(sf, 0.8, workRoot = work).count()
    def find(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(find)
    // simulate a writer that died mid-publish: stage dir present, no
    // _SUCCESS marker — the next caller must rebuild, not trust it
    val markers = find(new java.io.File(work)).filter(_.getName == "_SUCCESS")
    assert(markers.nonEmpty)
    markers.foreach(m => assert(m.delete()))
    assert(Dedup.minhashNearDupsShared(sf, 0.8, workRoot = work).count() == n)
    assert(find(new java.io.File(work)).exists(_.getName == "_SUCCESS"),
      "rebuild did not republish a complete stage")
  }

  test("minhash LSH recall matches exact ngram join at threshold 0.8") {
    val sf = spark.read.parquet(s"$sf001/documents.parquet")
    val lsh = Dedup.minhashNearDups(sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("incrementalNearDups: batch-touching pairs only, corpus never self-joined") {
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an unrelated corpus document about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"),   // batch dup of 1
      (7L, "an unrelated corpus document about spark engines"), // corpus dup of 2!
      (9L, "the quick brown fox jumps over the lazy cat"),   // batch near-dup
      (3L, "completely different words entirely here now ok")
    ).toDF("doc_id", "text")
    val batch = rows.filter(col("doc_id") % 5 === 4)   // {4, 9}
    val corpus = rows.filter(col("doc_id") % 5 =!= 4)  // {1, 2, 3, 7}
    val inc = Dedup.incrementalNearDups(batch, corpus, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // batch-corpus and batch-batch pairs found...
    assert(inc.contains((1L, 4L)))
    assert(inc.contains((4L, 9L)) || inc.contains((1L, 9L)))
    // ...but the corpus-corpus dup (2,7) is excluded by construction
    assert(!inc.contains((2L, 7L)), inc.toString)
    assert(inc.forall(p => p._1 % 5 == 4 || p._2 % 5 == 4))
  }

  test("incrementalNearDups equals full near-dups restricted to batch pairs") {
    val sf = spark.read.parquet(s"$sf001/documents.parquet")
    val inc = Dedup.incrementalNearDups(
        sf.filter(col("doc_id") % 5 === 4), sf.filter(col("doc_id") % 5 =!= 4),
        threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashNearDups(sf, threshold = 0.3)
      .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(inc == full, s"inc=$inc full=$full")
  }

  test("boilerplate: shared shingles flagged at minDocs, shingle-less doc scores 0") {
    val out = Dedup.boilerplate(docs, minDocs = 3L)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val m = out.map(r => r._1 -> r).toMap
    // docs 1,2,3 share the 'the quick brown fox...' prefix shingles →
    // those shingles hit doc_freq 3 and are boilerplate
    assert(m(1L)._3 > 0 && m(1L)._4 > 0.5, m(1L).toString)
    assert(m(2L)._3 == m(1L)._3) // identical text, identical score
    // doc 4 shares nothing
    assert(m(4L)._3 == 0L && m(4L)._4 == 0.0)
    // doc 5 has < 3 tokens → no shingles → all zeros
    assert(m(5L) == ((5L, 0L, 0L, 0.0)))
  }

  test("incrementalNearDups rejects a doc_id shared by batch and corpus") {
    // a shared id would silently never pair (a.doc_id =!= b.doc_id) and
    // would double its shingle rows in the verification join — so it is
    // a precondition violation, not a degraded answer
    val batch = Seq((1L, "the quick brown fox"), (2L, "other text here"))
      .toDF("doc_id", "text")
    val corpus = Seq((2L, "DIFFERENT text same id"), (3L, "corpus doc"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalNearDups(batch, corpus, threshold = 0.3).collect())
    assert(e.getMessage.contains("disjoint"), e.getMessage)
    assert(e.getMessage.contains("2"), e.getMessage)
  }

  test("simhash_bands_agg equals the MSB-first 16-bit fold of simhash_agg") {
    graft.functions.GraftFunctions.register(spark)
    val bits = Dedup.simhashBits(docs)
      .select(col("doc_id"), expr(
        "transform(sequence(0, 3), b -> " +
          "aggregate(slice(bits, b * 16 + 1, 16), 0L, (acc, x) -> acc * 2 + x))")
        .as("bands"))
      .as[(Long, Seq[Long])].collect().toMap
    val bands = Dedup.simhashBands(docs)
      .as[(Long, Seq[Long])].collect().toMap
    assert(bands == bits)
    // and the 4 longs each fit 16 bits (fold is unsigned MSB-first)
    assert(bands.values.flatten.forall(b => b >= 0L && b < 65536L))
  }

  test("simhash: identical docs at hamming 0; banding finds them") {
    val sigs = Dedup.simhashBits(docs)
      .select("doc_id", "bits").as[(Long, Seq[Int])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 64)
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("dedup is idempotent: rerunning on kept docs finds nothing") {
    val kept = Dedup.exactDedup(docs).filter(!col("is_dup"))
      .select("doc_id", "text")
    val second = Dedup.exactDedup(kept).filter(col("is_dup")).count()
    assert(second == 0L)
  }

  test("repeatedSpans flags every window of a corpus-repeated gram") {
    val d = Seq(
      (1L, "a b a b"), // windows: (a b), (b a), (a b)
      (2L, "a b c"),   // windows: (a b), (b c)
      (3L, "x y"))     // window: (x y) — unique
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, n = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "a b" occurs 3x corpus-wide (twice in doc 1, once in doc 2):
    // every one of its windows is repeated, including the within-doc pair
    assert(out(1L) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    // docs shorter than n contribute no rows
    val short = Dedup.repeatedSpans(
      Seq((9L, "solo")).toDF("doc_id", "text"), n = 2).count()
    assert(short == 0L)
  }

  test("decontaminate flags corpus docs sharing an n-gram with the benchmark") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares "alpha beta gamma delta" AND "beta gamma delta epsilon"
      (1L, "x alpha beta gamma delta epsilon y"),
      // shares "one two three four" with bench 101 only
      (2L, "zero one two three four"),
      // shares grams with BOTH bench docs
      (3L, "alpha beta gamma delta and one two three four"),
      // benchmark words but never 4 in a row
      (4L, "alpha beta x gamma delta y epsilon"),
      (5L, "unrelated content entirely different words here"),
      (6L, "too short")) // < n tokens → no grams, never flagged
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, n = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((2L, 1L))) // 2 distinct hit grams, 1 bench doc
    assert(out(2L) == ((1L, 1L)))
    assert(out(3L) == ((2L, 2L))) // one gram from each bench doc
    assert(!out.contains(4L) && !out.contains(5L) && !out.contains(6L))
    // repeated grams within a doc count once (distinct semantics)
    val rep = Dedup.decontaminate(
      Seq((7L, "one two three four one two three four")).toDF("doc_id", "text"),
      bench, n = 4)
      .as[(Long, Long, Long)].collect()
    assert(rep.toSeq == Seq((7L, 1L, 1L)))
  }

  test("contaminationRate: overlap fraction per doc, thresholded " +
    "verdict, clean docs report zero") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // 4 distinct grams, 2 shared -> 0.5
      (1L, "x alpha beta gamma delta epsilon y"),
      // 2 grams, 0 shared -> 0.0
      (2L, "zero one two three four"),
      (3L, "too short")) // < n tokens: no grams, no row
      .toDF("doc_id", "text")
    val out = Dedup.contaminationRate(corpus, bench, n = 4,
      threshold = 0.4)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((4L, 2L, 0.5, true)))
    assert(out(2L) == ((2L, 0L, 0.0, false)))
    assert(!out.contains(3L) && out.size == 2)
  }
}
