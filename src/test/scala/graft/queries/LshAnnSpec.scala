package graft.queries

import org.apache.spark.sql.Row

import graft.SparkSpec

/** ANN correctness: LSH-bucketed neighbours vs the brute-force exact
  * baseline (recall@5), plus ranking invariants.
  */
class LshAnnSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def hits(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(r.fieldIndex("query_id")),
      r.getLong(r.fieldIndex("neighbor_id")))).toSet

  private lazy val exact = TrainingOps.q18CosineTopK(spark, dir).collect()
  private lazy val ann = {
    val (uni, queries) = TrainingOps.annNaturalUniverse(spark, dir)
    TrainingOps.lshAnnTopK(spark, uni, queries).collect()
  }

  test("brute force returns a full top-5 per query, self excluded") {
    val byQ = exact.groupBy(_.getLong(0))
    assert(byQ.size === TrainingOps.NQueries)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === TrainingOps.TopK)
      assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to TrainingOps.TopK))
      assert(!rows.exists(_.getLong(1) == q))
    }
  }

  test("lsh ann recall@5 vs brute force >= 0.7") {
    val recall = hits(ann).intersect(hits(exact)).size.toDouble / hits(exact).size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("lsh ann rank-1 neighbour agrees with brute force for most queries") {
    def top1(rows: Array[Row]) = rows.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = top1(exact)
    val a = top1(ann)
    val agree = e.count { case (q, n) => a.get(q).contains(n) }
    assert(agree >= TrainingOps.NQueries / 2, s"top1 agreement: $agree/${e.size}")
  }

  test("q19 planted-companion gate: every rank-1..5 hit is a companion") {
    // the planted contract: each query's exact top-5 is its 5 companions
    // (ids q*10 + k + 100000), so the LSH output must be exactly those
    val rows = TrainingOps.q19LshAnn(spark, dir).collect()
    assert(rows.length === TrainingOps.NQueries * TrainingOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val comps = (0 until TrainingOps.AnnCompanions)
        .map(k => q * 10 + k + 100000).toSet
      assert(rs.map(_.getLong(1)).toSet === comps, s"query $q")
    }
  }
}
