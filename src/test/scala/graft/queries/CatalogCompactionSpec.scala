package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Signature-catalog lifecycle (r5 verdict item 5): one parquet dir per
  * crawl batch is the right write shape, but after 10⁴ crawls the bucket
  * read becomes a small-files scan — [[IncrementalDedup.compact]] folds
  * batches [0..upTo] into one dir through the catalog's atomic replace.
  * Pins: (1) delta pairs are INVARIANT under compaction (layout change,
  * never a row change); (2) an interrupted swap — crash once the
  * compacted rewrite is complete — rolls forward idempotently on the
  * next catalog touch; (3) [[IncrementalDedup.rebuild]] is the runnable cap-set
  * refresh (fresh hot set, batch history dropped).
  */
class CatalogCompactionSpec extends SparkSpec {

  private def words(i: Int) = {
    val r = new scala.util.Random(9000 + i)
    Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
  }

  // batch 0: docs 0..39; batch 1: docs 40..79 + one dup into batch 0;
  // delta: one dup into batch 1's range + one fresh doc
  private def batch0 = (0 until 40).map(i => (i.toLong, words(i)))
  private def batch1 =
    (40 until 80).map(i => (i.toLong, words(i))) :+ ((1000L, words(0)))
  private def deltaB = Seq((2000L, words(45)), (2001L, words(500)))

  private def pairSet(rows: Array[Row]): Set[(Long, Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"),
      r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toSet

  private def seed(root: String): Unit = {
    import spark.implicits._
    IncrementalDedup.commitBatch(
      batch0.toDF("doc_id", "text"), 0L, root, 0.9)
    IncrementalDedup.commitBatch(
      batch1.toDF("doc_id", "text"), 1L, root, 0.9)
  }

  private def runDelta(root: String): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    pairSet(IncrementalDedup.deltaStep(
      spark, deltaB.toDF("doc_id", "text"), 2L, root, 0.9).collect())
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach(q => Files.copy(q, dst.resolve(src.relativize(q))))
    finally s.close()
  }

  private def withTemp(f: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    try f(root) finally {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
  }

  test("delta pairs are invariant under compaction; layout folds to one dir") {
    var uncompacted: Set[(Long, Long, Long, Long)] = null
    withTemp { root =>
      seed(root)
      uncompacted = runDelta(root)
      // new×all only: the (0,1000) batch0×batch1 pair is the seed
      // commits' business (they were commitBatch-signed, not delta-run)
      assert(uncompacted.map(p => (p._1, p._2)) === Set((45L, 2000L)))
    }
    withTemp { root =>
      seed(root)
      IncrementalDedup.compact(spark, root, upTo = 1L)
      assert(IncrementalDedup.batchIds(spark, root, "buckets") === Seq(1L))
      assert(IncrementalDedup.batchIds(spark, root, "sets") === Seq(1L))
      assert(runDelta(root) === uncompacted)
      // post-delta layout: the folded dir plus the new batch
      assert(IncrementalDedup.batchIds(spark, root, "buckets") ===
        Seq(1L, 2L))
    }
  }

  test("interrupted swap (crash after marker) rolls forward on next catalog touch") {
    var reference: Set[(Long, Long, Long, Long)] = null
    withTemp { root =>
      seed(root)
      reference = runDelta(root)
    }
    // the crash window of a compaction's replace: the compacted tables
    // are complete in `__rewrite` (taken from a twin catalog compacted
    // without interruption), the live tables were moved to `__old`, and
    // the `__rewrite` → live renames never ran
    def crashState(root: String): Unit = withTemp { twin =>
      seed(twin)
      IncrementalDedup.compact(spark, twin, upTo = 1L)
      for (sub <- Seq("buckets", "sets")) {
        Files.move(Paths.get(s"$root/$sub"), Paths.get(s"$root/${sub}__old"))
        copyTree(Paths.get(s"$twin/$sub"), Paths.get(s"$root/${sub}__rewrite"))
      }
    }
    def remnants(root: String): Seq[String] =
      for (sub <- Seq("buckets", "sets"); sfx <- Seq("__old", "__rewrite")
        if Files.exists(Paths.get(s"$root/$sub$sfx"))) yield s"$sub$sfx"
    withTemp { root =>
      seed(root)
      crashState(root)
      // the roll-forward is idempotent: run it twice explicitly, then let
      // deltaStep's implicit roll-forward find nothing left to do
      val cat = new graft.catalog.ParquetCatalog(root)
      for (_ <- 1 to 2; sub <- Seq("buckets", "sets"))
        cat.rollForward(spark, sub)
      assert(IncrementalDedup.batchIds(spark, root, "buckets") === Seq(1L))
      assert(remnants(root) === Nil)
      assert(runDelta(root) === reference)
    }
    withTemp { root =>
      seed(root)
      // same crash window, but the roll-forward happens IMPLICITLY via
      // the next deltaStep (no explicit roll-forward call)
      crashState(root)
      assert(runDelta(root) === reference)
      assert(IncrementalDedup.batchIds(spark, root, "buckets") ===
        Seq(1L, 2L))
      assert(remnants(root) === Nil)
    }
  }

  test("rebuild is the cap-set refresh: fresh hot set, batch history dropped") {
    import spark.implicits._
    val boiler = "GENERATED FILE DO NOT EDIT license apache two"
    val dfCap = 50
    // seed: 30 boiler docs — boiler df = 30 ≤ cap → frozen hot set EMPTY
    val seedDocs = (0 until 30)
      .map(i => (i.toLong, s"$boiler ${words(i)}")).toDF("doc_id", "text")
    // drift: 40 more boiler docs — corpus-wide df = 70 > cap, but the
    // frozen set can't see it
    val drift = (100 until 140)
      .map(i => (i.toLong, s"$boiler ${words(i)}")).toDF("doc_id", "text")
    withTemp { root =>
      IncrementalDedup.commitBatch(seedDocs, 0L, root, 0.9, dfCap = dfCap)
      IncrementalDedup.deltaStep(spark, drift, 1L, root, 0.9, dfCap = dfCap)
        .collect()
      assert(spark.read.parquet(s"$root/hot").count() === 0L,
        "frozen hot set must stay the seed's (empty) set across deltas")
      IncrementalDedup.rebuild(spark,
        seedDocs.unionByName(drift), root, 0.9, dfCap = dfCap)
      // 8-word boiler head → its 6 interior shingles are now frozen hot
      assert(spark.read.parquet(s"$root/hot").count() === 6L)
      assert(IncrementalDedup.batchIds(spark, root, "buckets") === Seq(0L))
    }
  }
}
