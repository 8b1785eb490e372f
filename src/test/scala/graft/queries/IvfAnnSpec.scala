package graft.queries

import graft.SparkSpec

/** IVF ANN (the k-means-codebook scale path for similarity search):
  * recall@5 against the exact brute-force top-k, plus output-contract
  * checks. Probing 6/16 lists must recover most true neighbours.
  */
class IvfAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def ivfAnn = {
    val (uni, queries) = TrainingOps.annNaturalUniverse(spark, dir)
    TrainingOps.ivfAnnTopK(spark, uni, queries)
  }

  test("recall@5 vs exact cosine top-k") {
    val exact = TrainingOps.q18CosineTopK(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val approx = ivfAnn.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    assert(approx.keySet == exact.keySet)
    val hits = exact.map { case (q, truth) =>
      (approx(q) intersect truth).size.toDouble / truth.size
    }
    val recall = hits.sum / hits.size
    info(f"IVF recall@5 = $recall%.3f (probe ${TrainingOps.IvfProbe}/${TrainingOps.IvfLists} lists)")
    assert(recall >= 0.6, f"recall $recall%.3f below floor")
  }

  test("output contract: ranks 1..k per query, deterministic") {
    val rows = ivfAnn.collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= TrainingOps.TopK)
    }
    val again = ivfAnn.collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("q31 planted-companion gate: every rank-1..5 hit is a companion") {
    val rows = TrainingOps.q31IvfAnn(spark, dir).collect()
    assert(rows.length === TrainingOps.NQueries * TrainingOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val comps = (0 until TrainingOps.AnnCompanions)
        .map(k => q * 10 + k + 100000).toSet
      assert(rs.map(_.getLong(1)).toSet === comps, s"query $q")
    }
  }
}
