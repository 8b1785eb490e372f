package graft.queries

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Dedup-family correctness: the approximate operators (MinHash+LSH,
  * SimHash, embedding-LSH) are gated against their exact counterparts.
  */
class DedupSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(r.fieldIndex("doc_i")),
      r.getLong(r.fieldIndex("doc_j")))).toSet

  private lazy val exact = TrainingOps.q15NgramJaccard(spark, dir).collect()
  private lazy val lsh = TrainingOps.q16MinhashLsh(spark, dir).collect()

  test("exact n-gram jaccard finds the planted near-dups") {
    assert(exact.length > 10)
    exact.foreach { r =>
      assert(r.getDouble(r.fieldIndex("jaccard")) >= 0.5)
      assert(r.getLong(r.fieldIndex("doc_i")) < r.getLong(r.fieldIndex("doc_j")))
    }
  }

  test("minhash+lsh at 0.9 EQUALS the exact pairs at 0.9 (derived banding)") {
    // banding from minhashBanding(0.9, 1e-9) = (3, 16): a true >=0.9 pair
    // escapes with p <= 8.6e-10, so equality (not just recall) is the
    // contract — this is what lets the driver oracle q16 with exact SQL
    val exact09 = exact.filter(_.getDouble(4) >= 0.9)
    assert(pairs(lsh) === pairs(exact09))
  }

  test("minhash+lsh at 0.5 EQUALS the exact pairs at 0.5") {
    // at t=0.5 the derived banding degrades to (1, 30) within the 64-perm
    // budget — unselective but still miss <= 1e-9, so equality holds
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lsh05 = TrainingOps.minhashLsh(spark, docs, 0.5).collect()
    assert(pairs(lsh05) === pairs(exact))
  }

  test("banding derivation meets the miss bound within the perm budget") {
    for (t <- Seq(0.5, 0.7, 0.8, 0.9); miss <- Seq(1e-6, 1e-9)) {
      val (r, b) = TrainingOps.minhashBanding(t, miss)
      assert(r * b <= 64, s"t=$t: $r*$b over budget")
      val p = math.pow(1.0 - math.pow(t, r), b)
      assert(p <= miss, s"t=$t target=$miss got=$p with (r=$r,b=$b)")
    }
  }

  test("banding compares its budget in Long: low thresholds stay in budget") {
    // at 0.05 every r's band count saturates at Int.MaxValue; an Int
    // 8 * b wrapped to -8 and passed the budget
    assert(TrainingOps.minhashBanding(0.05, 1e-9) === ((1, 64)))
    val pinned = Seq(0.5 -> ((1, 30)), 0.55 -> ((1, 26)), 0.6 -> ((1, 23)),
      0.65 -> ((1, 20)), 0.7 -> ((2, 31)), 0.75 -> ((2, 26)),
      0.8 -> ((2, 21)), 0.85 -> ((2, 17)), 0.9 -> ((3, 16)),
      0.95 -> ((4, 13)))
    for ((t, rb) <- pinned)
      assert(TrainingOps.minhashBanding(t, 1e-9) === rb, s"t=$t")
  }

  test("simhash pairs equal a brute-force recompute (banding is complete)") {
    val sh = TrainingOps.q17Simhash(spark, dir).collect()
    // exact contract: {pairs : hamming(simhash_i, simhash_j) <= 3}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        TrainingOps.simhash64(r.getString(1).trim.split("\\s+").toSeq))
      .sortBy(_._1)
    val brute = (for {
      (i, hi) <- docs.iterator
      (j, hj) <- docs.iterator if i < j
      d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
    } yield (i, j, d)).toSet
    val got = sh.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute)
  }

  test("embedding near-dup finds planted duplicate vectors via LSH") {
    import spark.implicits._
    // synthetic: 100 random unit-ish vectors + 5 exact duplicates of the
    // first 5 at ids 100..104
    val rnd = new scala.util.Random(7)
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map(i => (100L + i, base(i)._2.clone()))
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val found = TrainingOps.embeddingNearDups(spark, emb, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 5).forall(i => found.contains((i.toLong, 100L + i))),
      s"found=$found")
  }
}
