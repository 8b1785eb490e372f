package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Incremental near-dup dedup (r4 verdict item 6): delta-vs-corpus must
  * be EXACTLY equivalent to full recompute — full(A) ∪ delta(B vs A∪B)
  * ≡ full(A∪B) — because per-doc signatures are pure functions of the
  * doc. Also: the delta never regenerates old×old pairs, and the
  * availableNow streaming wrapper reaches the same answer across two
  * lifecycles sharing one checkpoint (restart between drops).
  */
class IncrementalDedupSpec extends SparkSpec {

  private def words(i: Int) = {
    val r = new scala.util.Random(9000 + i)
    Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
  }

  // corpus A: 80 base docs + 3 planted dups inside A
  private def corpusA: Seq[(Long, String)] =
    (0 until 80).map(i => (i.toLong, words(i))) ++
      (0 until 3).map(j => (1000L + j, words(j)))
  // delta B: 30 new docs + one dup inside B + one cross A→B dup
  private def corpusB: Seq[(Long, String)] =
    (0 until 30).map(i => (2000L + i, words(100 + i))) ++
      Seq((3000L, words(100)), (3001L, words(5)))

  private def pairSet(rows: Array[Row]): Set[(Long, Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"),
      r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toSet

  test("full(A) ∪ delta(B vs A∪B) equals full(A∪B); delta has no old×old") {
    import spark.implicits._
    val a = corpusA.toDF("doc_id", "text")
    val b = corpusB.toDF("doc_id", "text")
    val all = (corpusA ++ corpusB).toDF("doc_id", "text")

    val full = pairSet(TrainingOps.minhashLsh(spark, all, 0.9).collect())
    val fullA = pairSet(TrainingOps.minhashLsh(spark, a, 0.9).collect())

    val (bucketsA, setsA) = IncrementalDedup.signatures(a, 0.9)
    val (bucketsB, setsB) = IncrementalDedup.signatures(b, 0.9)
    val delta = pairSet(IncrementalDedup.deltaPairs(
      bucketsB, bucketsA.union(bucketsB), setsA.union(setsB), 0.9).collect())

    // sanity: planted pairs where we put them
    assert(fullA.map(p => (p._1, p._2)) ===
      Set((0L, 1000L), (1L, 1001L), (2L, 1002L)))
    assert(delta.map(p => (p._1, p._2)) ===
      Set((2000L, 3000L), (5L, 3001L)))
    // the contract: delta ∪ full(A) ≡ full recompute, disjointly
    assert(delta.intersect(fullA) === Set.empty)
    assert(fullA.union(delta) === full)
  }

  test("delta join shuffle path (big-drop mode) returns identical pairs") {
    import spark.implicits._
    val a = corpusA.toDF("doc_id", "text")
    val b = corpusB.toDF("doc_id", "text")
    val (bucketsA, setsA) = IncrementalDedup.signatures(a, 0.9)
    val (bucketsB, setsB) = IncrementalDedup.signatures(b, 0.9)
    val (allB, allS) = (bucketsA.union(bucketsB), setsA.union(setsB))
    val bcast = pairSet(IncrementalDedup.deltaPairs(
      bucketsB, allB, allS, 0.9, broadcastDelta = true).collect())
    val shuffle = pairSet(IncrementalDedup.deltaPairs(
      bucketsB, allB, allS, 0.9, broadcastDelta = false).collect())
    assert(shuffle === bcast)
    assert(shuffle.map(p => (p._1, p._2)) ===
      Set((2000L, 3000L), (5L, 3001L)))
  }

  test("deltaStep under a tiny broadcastMaxRows (forced shuffle path) is unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_incr_sw").toString
    try {
      IncrementalDedup.commitBatch(
        corpusA.toDF("doc_id", "text"), 0L, root, 0.9)
      val got = pairSet(IncrementalDedup.deltaStep(spark,
        corpusB.toDF("doc_id", "text"), 1L, root, 0.9,
        broadcastMaxRows = 1L).collect())
      assert(got.map(p => (p._1, p._2)) === Set((2000L, 3000L), (5L, 3001L)))
    } finally deleteTree(root)
  }

  test("deltaStep keeps the corpus's doc_id type and equals an inferred read of its catalog") {
    import spark.implicits._
    for (asInt <- Seq(true, false)) {
      def docs(rows: Seq[(Long, String)]) = {
        val df = rows.toDF("doc_id", "text")
        if (asInt) df.withColumn("doc_id", col("doc_id").cast("int")) else df
      }
      val root = java.nio.file.Files.createTempDirectory("graft_incr_ty").toString
      try {
        IncrementalDedup.commitBatch(docs(corpusA), 0L, root, 0.9)
        val step = IncrementalDedup.deltaStep(spark, docs(corpusB), 1L, root,
          0.9)
        val got = step.collect().toSet
        // the reference: the same catalog read back with inferred schemas
        val inferred = IncrementalDedup.deltaPairs(
          spark.read.parquet(s"$root/buckets/batch=1"),
          spark.read.parquet(s"$root/buckets"),
          spark.read.parquet(s"$root/sets"), 0.9)
        val want = if (asInt) "int" else "bigint"
        assert(step.schema === inferred.schema)
        assert(step.schema("doc_i").dataType.simpleString === want)
        assert(step.schema("doc_j").dataType.simpleString === want)
        assert(got === inferred.collect().toSet)
        assert(got.map(r => (r.get(0).toString, r.get(1).toString)) ===
          Set(("2000", "3000"), ("5", "3001")))
      } finally deleteTree(root)
    }
  }

  test("a catalog with batch 0 and a batch id past Int.MaxValue returns its planted pairs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_incr_big").toString
    try {
      IncrementalDedup.commitBatch(
        corpusA.toDF("doc_id", "text"), 0L, root, 0.9)
      val big = Int.MaxValue + 7L
      val got = pairSet(IncrementalDedup.deltaStep(spark,
        corpusB.toDF("doc_id", "text"), big, root, 0.9).collect())
      assert(got.map(p => (p._1, p._2)) === Set((2000L, 3000L), (5L, 3001L)))
      assert(spark.read.parquet(s"$root/buckets").schema("batch").dataType
        .simpleString === "bigint")
    } finally deleteTree(root)
  }

  test("one deltaStep on a seeded catalog runs 14 Spark jobs, on every run") {
    import spark.implicits._
    // the catalog's schema and the batch's row count come from the commit
    // itself: no parquet footer inference (four jobs) and no count over
    // the written dir (two jobs), which made this step 20 jobs
    def jobsOfOneStep(run: Int): Int = {
      val root = java.nio.file.Files.createTempDirectory("graft_incr_jobs").toString
      try {
        IncrementalDedup.commitBatch(
          corpusA.toDF("doc_id", "text"), 0L, root, 0.9)
        val (pairs, jobs, _) = org.apache.spark.JobTrace(spark,
            s"incr-dedup-jobs-$run") {
          IncrementalDedup.deltaStep(spark,
            corpusB.toDF("doc_id", "text"), 1L, root, 0.9).collect()
        }
        assert(pairSet(pairs).map(p => (p._1, p._2)) ===
          Set((2000L, 3000L), (5L, 3001L)))
        jobs
      } finally deleteTree(root)
    }
    assert(Seq(1, 2).map(jobsOfOneStep) === Seq(14, 14))
  }

  test("frozen cap set: a shingle hot in the corpus but not the delta signs identically") {
    import spark.implicits._
    // 8-word boilerplate head: its 6 interior shingles have df = 70 in
    // the 70-doc union (hot at dfCap 50), but df = 10 inside the delta
    // alone — the r5 ADVICE divergence case: a per-batch cap keeps them
    // in the delta's sets while the corpus's stored sets dropped them.
    val boiler = "GENERATED FILE DO NOT EDIT license apache two"
    def tail(i: Int) = {
      val r = new scala.util.Random(4000 + i)
      Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
    }
    val dfCap = 50
    val a = (0 until 60).map(i => (i.toLong, s"$boiler ${tail(i)}"))
      .toDF("doc_id", "text")
    // delta: 9 fresh docs + one near-dup of corpus doc 5 (same tail,
    // one word appended — jaccard ≈ 30/31 under the frozen cap, but
    // ≈ 30/37 < 0.9 if the delta's boiler shingles survive)
    val b = ((100 until 109).map(i => (2000L + i, s"$boiler ${tail(i)}")) :+
      (3000L, s"$boiler ${tail(5)} extra")).toDF("doc_id", "text")

    val root = java.nio.file.Files.createTempDirectory("graft_incr_hot").toString
    try {
      IncrementalDedup.commitBatch(a, 0L, root, 0.9, dfCap = dfCap)
      val incr = pairSet(IncrementalDedup.deltaStep(
        spark, b, 1L, root, 0.9, dfCap = dfCap).collect())

      // the EXACT reference: full recompute of A∪B under the SAME
      // frozen cap set (hot(A)) — the pure per-doc signing function the
      // catalog froze at seed time
      val hotA = IncrementalDedup.hotOf(a, dfCap)
      val (fb, fsets) = IncrementalDedup.signaturesFrozen(
        a.union(b), 0.9, hotA)
      val fullFrozen = pairSet(IncrementalDedup.deltaPairs(
        fb, fb, fsets, 0.9).collect())
      val (ab, asets) = IncrementalDedup.signaturesFrozen(a, 0.9, hotA)
      val fullA = pairSet(IncrementalDedup.deltaPairs(
        ab, ab, asets, 0.9).collect())

      assert(incr.map(p => (p._1, p._2)) === Set((5L, 3000L)))
      assert(fullA.union(incr) === fullFrozen,
        "incremental under the frozen cap must equal full recompute under it")

      // and the OLD per-batch capping really does diverge here: the
      // delta's own hot set is empty, so its sets keep the boiler
      // shingles and the pair's jaccard falls below threshold
      val (nb, nsets) = IncrementalDedup.signatures(b, 0.9, dfCap = dfCap)
      val naive = pairSet(IncrementalDedup.deltaPairs(
        nb, ab.union(nb), asets.union(nsets), 0.9).collect())
      assert(!naive.map(p => (p._1, p._2)).contains((5L, 3000L)),
        "per-batch capping should miss the planted pair — if it doesn't, " +
          "this spec no longer exercises the divergence")
    } finally deleteTree(root)
  }

  test("seed-mode streaming: batch 0 signs only; delta lifecycle emits only new×all") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_incr_seed").toString
    val (in, cat, out, ckpt) =
      (s"$root/in", s"$root/catalog", s"$root/out", s"$root/ckpt")
    try {
      // seed as ONE file → one batch 0 (the documented seed contract)
      corpusA.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      graft.streaming.StreamingDedupJob.runOnce(
        spark, in, cat, out, ckpt, 0.9, seedBatch0 = true)
      val afterSeed = graft.streaming.StreamingDedupJob
        .allPairs(spark, out).count()
      assert(afterSeed === 0L, "seed lifecycle must emit no pairs")

      corpusB.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      graft.streaming.StreamingDedupJob.runOnce(
        spark, in, cat, out, ckpt, 0.9, seedBatch0 = true)
      val got = pairSet(
        graft.streaming.StreamingDedupJob.allPairs(spark, out).collect())
      // exactly the pairs touching the delta — corpus-internal pairs
      // (0,1000),(1,1001),(2,1002) are the seed's business, not emitted
      assert(got.map(p => (p._1, p._2)) === Set((2000L, 3000L), (5L, 3001L)))
    } finally deleteTree(root)
  }

  private def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  test("streaming delta job: two lifecycles + restart reach the full answer") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val (in, cat, out, ckpt) =
      (s"$root/in", s"$root/catalog", s"$root/out", s"$root/ckpt")
    try {
      corpusA.toDF("doc_id", "text")
        .write.mode("append").parquet(in)
      val b1 = graft.streaming.StreamingDedupJob.runOnce(
        spark, in, cat, out, ckpt, 0.9)
      assert(b1 >= 1L) // availableNow may split a drop into several batches
      corpusB.toDF("doc_id", "text")
        .write.mode("append").parquet(in)
      // NEW lifecycle, same checkpoint: resumes at the unprocessed drop
      val b2 = graft.streaming.StreamingDedupJob.runOnce(
        spark, in, cat, out, ckpt, 0.9)
      assert(b2 >= 1L)

      val all = (corpusA ++ corpusB).toDF("doc_id", "text")
      val full = pairSet(TrainingOps.minhashLsh(spark, all, 0.9).collect())
      val got = pairSet(
        graft.streaming.StreamingDedupJob.allPairs(spark, out).collect())
      assert(got === full)
    } finally {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
