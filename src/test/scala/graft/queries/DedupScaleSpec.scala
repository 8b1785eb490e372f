package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale-safety evidence for the dedup family's two former hot spots
  * (VERDICT r1): the unbounded hot-shingle self-join and the constant
  * LSH bucket count.
  *
  * 1. Hot-shingle DF cap: a boilerplate shingle shared by k docs would
  *    generate k² candidate rows in the inverted-index join;
  *    [[TrainingOps.shingleTokens]] drops shingles with df > cap before
  *    the join, and the planted near-dups (whose signal lives in their
  *    unique shingles) still come out exactly.
  *
  * 2. Derived LSH params at 50k vectors: [[TrainingOps.lshParams]] grows
  *    bits with log2(N / targetBucket), so total co-bucketed pairs
  *    (= the candidate-join size, computed here from bucket occupancies
  *    WITHOUT materialising the join) stays ≤ tables · targetBucket · N —
  *    linear in N — while every planted near-dup pair still shares ≥1
  *    bucket (the only probabilistic stage; miss ≈ 5e-16 per pair).
  */
class DedupScaleSpec extends SparkSpec {

  test("hot-shingle DF cap bounds the inverted-index join, keeps near-dups") {
    import spark.implicits._
    val boiler = "GENERATED FILE DO NOT EDIT license apache two"
    def uniq(i: Int) = {
      val r = new scala.util.Random(1000 + i)
      Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
    }
    val base = (0 until 200).map(i => (i.toLong, s"$boiler ${uniq(i)}"))
    // planted near-dups: docs 1000+j repeat doc j's unique content
    val dups = (0 until 5).map(j => (1000L + j, s"$boiler ${uniq(j)}"))
    val docs = (base ++ dups).toDF("doc_id", "text")

    // the boilerplate shingles appear in all 205 docs; cap 50 drops them
    val sets = TrainingOps.shingleSets(docs).cache()
    val tok = TrainingOps.shingleTokens(sets, 50)
    val maxDf = tok.groupBy("s").count().agg(max("count")).head.getLong(0)
    assert(maxDf <= 50, s"a shingle with df=$maxDf survived the cap")

    // with the cap, the only >=0.9 pairs are the planted ones — and the
    // candidate join never saw the 205²/2 boilerplate pair blow-up
    val found = TrainingOps.minhashLsh(spark, docs, 0.9, dfCap = 50)
      .select("doc_i", "doc_j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === (0 until 5).map(j => (j.toLong, 1000L + j)).toSet)
  }

  test("derived LSH params keep co-bucketed pairs linear in N at 50k vectors") {
    import spark.implicits._
    val n = 50000L
    val threshold = 0.95
    val (tables, bits) = TrainingOps.lshParams(n, threshold)
    // bits grow with N: 50k / 512 → 7 bits (128 buckets per table)
    assert(bits >= 7, s"bits=$bits did not grow with N")
    val pl = TrainingOps.allPlanes(tables, bits)

    // 50k deterministic gaussian vectors + 50 planted near-dups
    // (v + 0.1·rot(v) → cosine ≈ 0.995 ≥ threshold)
    def vec(seed: Long): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian())
    }
    val base = spark.range(n).map(id => (id.toLong, vec(id)))
    val planted = spark.range(50).map { id =>
      val v = vec(id)
      val w = Array.tabulate(64)(i => v(i) + 0.1 * v((i + 1) % 64))
      (100000L + id, w)
    }
    val buckets = base.union(planted).flatMap { case (id, v) =>
      pl.indices.iterator.map(t => (id, t, TrainingOps.lshBucket(v.toSeq, pl(t))))
    }.toDF("vec_id", "tbl", "bucket").cache()

    // candidate-join size from occupancies: Σ c·(c-1)/2 over (tbl, bucket)
    val cand = buckets.groupBy("tbl", "bucket").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)
    val bound = tables.toDouble * 512 * (n + 50)
    assert(cand <= bound,
      s"co-bucketed pairs $cand exceed linear bound $bound " +
        s"(tables=$tables bits=$bits)")
    // vs the round-1 constant 16-bucket config: N²/32 per table
    val constantConfig = tables.toDouble * (n * n / 32.0)
    assert(cand < constantConfig / 4,
      s"derived config ($cand) should be far under constant-bucket blow-up " +
        s"($constantConfig)")

    // recall of the candidate stage: every planted pair shares a bucket
    val b2 = buckets.filter(col("vec_id") >= 100000 || col("vec_id") < 50)
    val shared = b2.as("a").join(b2.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") + 100000 === col("b.vec_id"))
      .select(col("a.vec_id")).distinct().count()
    assert(shared === 50L, s"only $shared/50 planted pairs co-bucketed")
  }

  test("lshParams: the 16-bit cap is lifted — bits keep growing past 34M vectors") {
    // r5 verdict item 1: until r6, bits = min(16, …) meant that past
    // N ≈ targetBucket·2¹⁶ ≈ 34M vectors bucket occupancy grew linearly
    // and the candidate join reverted to ~N²/2¹⁶ per table. The regime
    // table now continues (threshold 0.95, targetBucket 512):
    assert(TrainingOps.lshParams(8192, 0.95) === ((14, 4)))
    assert(TrainingOps.lshParams(1000000, 0.95) === ((38, 11)))
    assert(TrainingOps.lshParams(34000000, 0.95) === ((78, 17))) // past old cap
    assert(TrainingOps.lshParams(1000000000L, 0.95) === ((123, 21)))
    assert(TrainingOps.lshParams(1000000000000L, 0.95) === ((369, 31)))
    // occupancy invariant: N / 2^bits ≤ targetBucket at every regime point
    for (n <- Seq(34000000L, 1000000000L, 1000000000000L)) {
      val (_, bits) = TrainingOps.lshParams(n, 0.95)
      assert(n.toDouble / math.pow(2, bits) <= 512.0,
        s"n=$n: expected occupancy exceeds targetBucket")
    }
    // the Long-bucket ceiling is 48 bits (≈1.4e17 vectors), not 16
    assert(TrainingOps.LshMaxBits === 48)
    val (_, bitsHuge) = TrainingOps.lshParams(Long.MaxValue, 0.95)
    assert(bitsHuge === 48)
  }

  test("lshBucket produces Long keys: bits > 31 set high bucket bits without overflow") {
    // a plane set with 40 bits must be able to reach buckets ≥ 2³² —
    // with Int keys (the old cap's type) this was unrepresentable
    val planes = TrainingOps.allPlanes(1, 40)(0)
    val r = new scala.util.Random(11)
    val buckets = (0 until 200).map { _ =>
      TrainingOps.lshBucket(Seq.fill(64)(r.nextGaussian()), planes)
    }
    assert(buckets.forall(b => b >= 0L && b < (1L << 40)))
    assert(buckets.exists(_ > Int.MaxValue.toLong),
      "no bucket used bits past 31 — keys are effectively still Int-width")
  }

  test("lshAnnParams: ANN query path derives (tables, bits) from N — sublinear candidates") {
    // gate floor: N=600 → 4 bits, 18 tables (the q19 shape; miss at the
    // planted cosine 0.9987 is (1−0.984⁴)¹⁸ ≈ 3e-22)
    assert(TrainingOps.lshAnnParams(600) === ((18, 4)))
    // candidates/query ≈ tables × targetBucket: tables grow ~N^0.22 at
    // designCos 0.9 while N/2^bits stays ≤ 512 — sublinear in N
    assert(TrainingOps.lshAnnParams(100000) === ((41, 8)))
    assert(TrainingOps.lshAnnParams(1000000) === ((69, 11)))
    assert(TrainingOps.lshAnnParams(10000000) === ((135, 15)))
    val candAt = (n: Long) => {
      val (t, b) = TrainingOps.lshAnnParams(n)
      t.toDouble * math.max(n.toDouble / math.pow(2, b), 1.0)
    }
    // 100× more vectors → far less than 100× more candidates per query
    assert(candAt(10000000) / candAt(100000) < 8.0,
      s"candidates/query grew ${candAt(10000000) / candAt(100000)}x over a 100x N step")
  }

  test("derived IVF sizing: gate constants are the small-N floor of the √N curve") {
    // small N → the fixed gate constants (q31 itself always uses the
    // defaults, so the gate stays byte-deterministic regardless)
    assert(TrainingOps.ivfParams(200) ===
      ((TrainingOps.IvfLists, TrainingOps.IvfProbe, TrainingOps.IvfTrainCap)))
    // at scale: lists ≈ √N, probe ≈ lists/16, 16 training samples/centroid
    val (l50k, p50k, t50k) = TrainingOps.ivfParams(50000)
    assert(l50k === 224 && p50k === 14)
    assert(t50k === math.max(TrainingOps.IvfTrainCap, 16 * 224))
    val (l500k, p500k, t500k) = TrainingOps.ivfParams(500000)
    assert(l500k === 708 && p500k === 44 && t500k === 16 * 708)
    // the scored-candidate fraction probe/lists stays ~1/16 as N grows —
    // the flat cand/N ratio DedupScaleBench measures
    assert(math.abs(p500k.toDouble / l500k - 1.0 / 16) < 0.01)
  }

  test("minhashBandBuckets mirrors the LSH stage: planted dups co-bucket, band count matches") {
    import spark.implicits._
    def uniq(i: Int) = {
      val r = new scala.util.Random(5000 + i)
      Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
    }
    val docs = ((0 until 100).map(i => (i.toLong, uniq(i))) ++
      (0 until 5).map(j => (1000L + j, uniq(j)))).toDF("doc_id", "text")
    val buckets = TrainingOps.minhashBandBuckets(docs, 0.9).cache()
    val (r, b) = TrainingOps.minhashBanding(0.9, 1e-9)
    assert(buckets.select(col("band")).distinct().count() === b.toLong)
    // every planted pair shares ≥ 1 band bucket (identical content →
    // identical signature → all b bands collide)
    val shared = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") + 1000 === col("b.doc_id"))
      .select(col("a.doc_id")).distinct().count()
    assert(shared === 5L)
  }

  test("simhashBlocks derives block count from N; gate scale keeps legacy 4×16") {
    // the curve (h=3, perDocCap=8): thresholds where expected random
    // co-keyed pairs per doc would exceed the cap
    assert(TrainingOps.simhashBlocks(500) === 4)     // gate scale: legacy plan
    assert(TrainingOps.simhashBlocks(262144) === 4)  // 4 tables × 16-bit keys
    assert(TrainingOps.simhashBlocks(262145) === 5)  // 10 tables × ≥25-bit
    assert(TrainingOps.simhashBlocks(1000000) === 5)
    assert(TrainingOps.simhashBlocks(100000000L) === 6) // 20 × ≥31-bit
    assert(TrainingOps.simhashBlocks(2000000000L) === 7)
    assert(TrainingOps.simhashBlocks(1000000000000L) === 10) // 10¹² docs
    // widths always cover all 64 bits
    (4 to 12).foreach(b =>
      assert(TrainingOps.simhashBlockWidths(b).sum === 64))
  }

  test("simhash block-combination banding is pigeonhole-complete for every derived b") {
    import spark.implicits._
    // random 64-bit hashes + a partner with exactly d ≤ 3 flipped bits;
    // completeness: every such pair must share ≥ 1 (table, key) at every
    // block count the derivation can pick in the 10¹²-doc range
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 200).map { i =>
      val h = rnd.nextLong()
      val d = i % 4 // Hamming distances 0..3
      val flips = rnd.shuffle((0 until 64).toList).take(d)
      val h2 = flips.foldLeft(h)((acc, bit) => acc ^ (1L << bit))
      (i.toLong, h, h2)
    }
    for (b <- 4 to 10) {
      val hashed = pairs.flatMap { case (i, h, h2) =>
        Seq((2 * i, h), (2 * i + 1, h2))
      }.toDF("doc_id", "simhash")
      val buckets = TrainingOps.simhashBandBuckets(hashed, b, maxHamming = 3)
      val shared = buckets.as("a").join(buckets.as("b"),
          col("a.table") === col("b.table") && col("a.key") === col("b.key") &&
            col("a.doc_id") + 1 === col("b.doc_id") &&
            col("a.doc_id") % 2 === 0)
        .select(col("a.doc_id")).distinct().count()
      assert(shared === 200L,
        s"b=$b: only $shared/200 Hamming≤3 pairs co-keyed — banding incomplete")
    }
  }

  test("simhashPairs output is banding-invariant: derived plan equals brute force") {
    import spark.implicits._
    // near-identical docs (one token appended) land within Hamming ≤ 3;
    // the OUTPUT contract {pairs : hamming ≤ 3} must not depend on b
    def words(i: Int, n: Int) = {
      val r = new scala.util.Random(7000 + i)
      Seq.fill(n)("w" + r.nextInt(500)).mkString(" ")
    }
    val docs = ((0 until 60).map(i => (i.toLong, words(i, 40))) ++
      (0 until 8).map(j => (500L + j, words(j, 40) + " extra"))).toDF("doc_id", "text")
    val got = TrainingOps.simhashPairs(spark, docs, maxHamming = 3)
      .select("doc_i", "doc_j", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sh = docs.collect().map(r => (r.getLong(0),
      TrainingOps.simhash64(r.getString(1).trim.split("\\s+").toSeq)))
    val brute = (for {
      (i, hi) <- sh; (j, hj) <- sh if i < j
      d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
    } yield (i, j, d)).toSet
    assert(got === brute)
  }

  test("bucketSelfJoin emits each co-bucketed pair once with i < j; occupancyMass counts the pre-distinct rows") {
    import spark.implicits._
    // 60 ids × 4 bands over 5 hash values: most pairs collide in several
    // bands, so a join without the distinct would repeat them
    val rnd = new scala.util.Random(11)
    val rows = for (id <- 0L until 60L; band <- 0 until 4)
      yield (id, band, rnd.nextInt(5).toLong, id * 10)
    val buckets = rows.toDF("doc_id", "band", "bh", "w")
    val got = TrainingOps.bucketSelfJoin(buckets, Seq("band", "bh"),
        ("doc_id", "doc_i", "doc_j"), carry = Some(("w", "w_i", "w_j")))
      .select("doc_i", "doc_j", "w_i", "w_j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val coBucketed = for {
      (a, ba, ha, _) <- rows; (b, bb, hb, _) <- rows
      if ba == bb && ha == hb && a < b
    } yield (a, b)
    val multi = coBucketed.groupBy(identity).count(_._2.size >= 2)
    assert(multi > 100, s"only $multi pairs collide in ≥ 2 bands")
    assert(got.length === got.toSet.size, "a pair was emitted twice")
    assert(got.forall { case (i, j, wi, wj) =>
      i < j && wi == i * 10 && wj == j * 10 })
    assert(got.map(g => (g._1, g._2)).toSet === coBucketed.toSet)
    assert(TrainingOps.occupancyMass(buckets, "band", "bh") ===
      coBucketed.size.toLong)
  }

  test("lshAnnCandidates = the distinct co-bucketed (query, vector) pairs, self excluded") {
    import spark.implicits._
    val n = 2000
    val vecs = (0 until n).map { i =>
      val r = new scala.util.Random(300 + i)
      (i.toLong, Array.fill(64)(r.nextGaussian()).toSeq)
    }
    // queries reuse universe ids, so every query meets itself in every
    // table and the self exclusion is exercised
    val queries = vecs.take(20)
    val planes = TrainingOps.allPlanes(5, 6)
    val got = TrainingOps.lshAnnCandidates(vecs.toDF("vec_id", "v"),
        queries.toDF("query_id", "qv"), planes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def keys(v: Seq[Double]) = planes.map(TrainingOps.lshBucket(v, _)).toSeq
    val vk = vecs.map { case (id, v) => (id, keys(v)) }
    val brute = (for {
      (q, qv) <- queries; qk = keys(qv); (id, k) <- vk
      if id != q && qk.zip(k).exists { case (a, b) => a == b }
    } yield (q, id)).toSet
    assert(brute.size > 500 && brute.size < 20 * (n - 1) / 2,
      s"${brute.size} candidates: planes too coarse or too fine to test")
    assert(got.length === got.toSet.size, "a candidate was emitted twice")
    assert(got.toSet === brute)
  }
}
