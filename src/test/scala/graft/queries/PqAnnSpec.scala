package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PQ ANN (the memory-compression scale path for similarity search):
  * code-table shape and bounds, encoding determinism, recall@5 against
  * the exact brute-force top-k, partition-layout invariance of the
  * full pipeline, and the planted-companion gate contract.
  */
class PqAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def natural = TrainingOps.annNaturalUniverse(spark, dir)

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("codes: m entries per vector, every code within [0, k)") {
    val m = TrainingOps.PqM
    val k = 16
    val cb = TrainingOps.pqTrain(spark, emb, m, k)
    assert(cb.length == m)
    assert(cb.forall(_.length == k))
    val codes = TrainingOps.pqEncode(spark, emb, cb).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == m)
      assert(cs.forall(c => c >= 0 && c < k))
    }
  }

  test("codebook training is deterministic run-to-run") {
    val cb1 = TrainingOps.pqTrain(spark, emb, TrainingOps.PqM, 16)
    val cb2 = TrainingOps.pqTrain(spark, emb, TrainingOps.PqM, 16)
    assert(cb1.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
  }

  test("recall@5 vs exact cosine top-k") {
    val exact = TrainingOps.q18CosineTopK(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val approx = {
      val (uni, queries) = natural
      TrainingOps.pqAnnTopK(spark, uni, queries)
    }.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    assert(approx.keySet == exact.keySet)
    val hits = exact.map { case (q, truth) =>
      (approx(q) intersect truth).size.toDouble / truth.size
    }
    val recall = hits.sum / hits.size
    info(f"PQ recall@5 = $recall%.3f (pool ${TrainingOps.PqPool}, exact rerank)")
    assert(recall >= 0.6, f"recall $recall%.3f below floor")
  }

  test("pipeline output invariant to input partition layout") {
    val (uni, queries) = TrainingOps.annPlantedUniverse(spark, dir)
    val a = TrainingOps.pqAnnTopK(spark, uni, queries,
      nHint = Some(500L + 100L)).collect().map(_.toString).sorted.toSeq
    val b = TrainingOps.pqAnnTopK(spark, uni.repartition(7), queries,
      nHint = Some(500L + 100L)).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("IVF-PQ recall@5 vs exact cosine top-k") {
    val exact = TrainingOps.q18CosineTopK(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val approx = {
      val (uni, queries) = natural
      TrainingOps.ivfPqAnnTopK(spark, uni, queries)
    }.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    assert(approx.keySet == exact.keySet)
    val hits = exact.map { case (q, truth) =>
      (approx(q) intersect truth).size.toDouble / truth.size
    }
    val recall = hits.sum / hits.size
    info(f"IVF-PQ recall@5 = $recall%.3f " +
      f"(probe ${TrainingOps.IvfProbe}/${TrainingOps.IvfLists}, " +
      f"pool ${TrainingOps.PqPool}, exact rerank)")
    assert(recall >= 0.6, f"recall $recall%.3f below floor")
  }

  test("q55 planted-companion gate: composed pipeline recovers exact top-5") {
    val rows = TrainingOps.q55IvfPqAnn(spark, dir).collect()
    assert(rows.length === TrainingOps.NQueries * TrainingOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val comps = (0 until TrainingOps.AnnCompanions)
        .map(k => q * 10 + k + 100000).toSet
      assert(rs.map(_.getLong(1)).toSet === comps, s"query $q")
    }
  }

  test("q54 planted-companion gate: exact top-5 recovered per query") {
    val rows = TrainingOps.q54PqAnn(spark, dir).collect()
    assert(rows.length === TrainingOps.NQueries * TrainingOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val comps = (0 until TrainingOps.AnnCompanions)
        .map(k => q * 10 + k + 100000).toSet
      assert(rs.map(_.getLong(1)).toSet === comps, s"query $q")
    }
  }
}
