package graft.queries

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

/** The one MinHash signer ([[TrainingOps.bandedSignature]]) is the
  * format of every persisted signature catalog, so its output must not
  * drift: the q16 diagnostic and the incremental-dedup catalog sign
  * identically, and literal (doc_id, band, bh) rows are pinned so a
  * change to the formula fails here instead of silently orphaning
  * catalogs written by an earlier release.
  */
class MinhashSignerSpec extends SparkSpec {

  private def words(i: Int): Seq[String] = {
    val r = new scala.util.Random(7000 + i)
    Seq.fill(30)("w" + r.nextInt(1000000))
  }

  // 60 distinct docs plus 4 planted near-dups (last word replaced:
  // Jaccard 27/29 ≈ 0.93 over the 28 word-3-gram shingles)
  private def docs: DataFrame = {
    val spark = this.spark
    import spark.implicits._
    ((0 until 60).map(i => (i.toLong, words(i).mkString(" "))) ++
      (0 until 4).map(j =>
        (1000L + j, (words(j).init :+ s"planted$j").mkString(" "))))
      .toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long)] =
    df.collect().map((r: Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[Long]("bh")))
      .toSet

  test("q16 buckets and the incremental catalog sign identically") {
    val q16 = rows(TrainingOps.minhashBandBuckets(docs, 0.9))
    val catalog = rows(IncrementalDedup.signatures(docs, 0.9)._1)
    assert(q16.size == 64 * 16) // banding (3, 16) at 0.9
    assert(q16 == catalog)
    spark.catalog.clearCache()
  }

  test("signing is pinned to literal bucket rows") {
    val got = rows(TrainingOps.minhashBandBuckets(docs, 0.9))
    Pinned.foreach(p => assert(got.contains(p), p))
    // each planted near-dup shares a bucket with its original
    (0 until 4).foreach { j =>
      val a = got.filter(_._1 == j).map(r => (r._2, r._3))
      val b = got.filter(_._1 == 1000L + j).map(r => (r._2, r._3))
      assert(a.intersect(b).nonEmpty, j)
    }
    spark.catalog.clearCache()
  }

  // captured before the three signer copies were folded into one
  private val Pinned: Seq[(Long, Int, Long)] = Seq(
    (0L, 0, 2249040620629923435L),
    (0L, 7, 9085438145216674452L),
    (0L, 15, -2584083955804462588L),
    (59L, 0, -1065281661245088411L),
    (59L, 7, -2273937151182409456L),
    (59L, 15, 423646855550523145L),
    (1000L, 0, 6310539013610134859L),
    (1000L, 7, -178691981274181954L),
    (1000L, 15, -2584083955804462588L))
}
