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
  *  - wall time per datapoint, with its steal% and cpu_eff witnesses.
  *
  * Candidate surfaces, masses and pair stages are the shipped
  * [[TrainingOps]] functions, so a change to them shows here.
  *
  * Run: sbt -batch "runMain graft.jobs.DedupScaleBench [small]"
  * (`small` halves the Ns for a quick smoke pass; other modes at
  * [[main]]). One JSON line to stdout; results are appended to BENCH.md's
  * scale-evidence table.
  */
object DedupScaleBench {

  /** Task-metric clock (graft.Bench's contention witness, here so scale
    * datapoints carry cpu_eff too — r5 verdict item 7: a wall without a
    * cpu_eff witness is unjudgeable on this box, whose in-VM contention
    * never shows in /proc/stat steal). [[witness]] registers it.
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
    private var on: Option[org.apache.spark.SparkContext] = None
    /** Listen on the active session's context, once per context. */
    def register(): Unit = synchronized {
      val sc = SparkSession.active.sparkContext
      if (!on.contains(sc)) { sc.addSparkListener(this); on = Some(sc) }
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

  /** (wallSec, stealPct, cpuEff) of `f`: the wall around `f` alone,
    * hypervisor steal from /proc/stat, and executorCpuTime/(executorRunTime
    * − gc) — the witnesses every BENCH.md wall cites. The listener
    * settles before and after `f`, outside the wall.
    */
  private[jobs] def witness(f: () => Unit): (Double, Double, Double) = {
    def jiffies(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    }
    Clock.register()
    val (r0, c0, g0) = Clock.settled()
    val (j0, s0) = jiffies()
    val t0 = System.nanoTime()
    f()
    val wall = (System.nanoTime() - t0) / 1e9
    val (j1, s1) = jiffies()
    val (r1, c1, g1) = Clock.settled()
    val steal = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
    val busySec = math.max((r1 - r0) - (g1 - g0), 1L) / 1e3
    val cpuEff = math.min(((c1 - c0) / 1e9) / busySec, 1.0)
    (wall, steal, cpuEff)
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
      steal: Double, cpuEff: Double, plantedTotal: Int = 50, blocks: Int = 0)

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
    // candidate volume from occupancies (the join's exact input size)
    val cand = TrainingOps.occupancyMass(TrainingOps.lshBuckets(
      emb.as[(Long, Seq[Double])], TrainingOps.allPlanes(tables, bits),
      "vec_id"), "tbl", "bucket").toDouble

    var found = 0L
    val (wall, steal, cpuEff) = witness { () =>
      found = TrainingOps
        .embeddingNearDups(spark, emb, threshold, nHint = Some(n + planted))
        .filter(col("vec_j") === col("vec_i") + 10000000L &&
          col("vec_i") < planted)
        .count()
    }
    Point("embedding", n, tables, bits, cand, cand / (n + planted), found,
      wall, steal, cpuEff)
  }

  def minhashPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val threshold = 0.9
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, docText(id)))
    val dups = spark.range(planted).map(id => (10000000L + id.toLong, docText(id)))
    val docs = base.union(dups).toDF("doc_id", "text")

    val (r, b) = TrainingOps.minhashBanding(threshold, 1e-9)
    val cand = TrainingOps.occupancyMass(
      TrainingOps.minhashBandBuckets(docs, threshold), "band", "bh").toDouble

    var found = 0L
    val (wall, steal, cpuEff) = witness { () =>
      found = TrainingOps.minhashLsh(spark, docs, threshold)
        .filter(col("doc_j") === col("doc_i") + 10000000L &&
          col("doc_i") < planted)
        .count()
    }
    Point("minhash", n, b, r, cand, cand / (n + planted), found, wall, steal,
      cpuEff)
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
    val (wall, steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .ivfAnnTopK(spark, uni, queries, lists, probe, trainCap))
    }
    // candidate volume (rows scored) ≈ nQueries · N · probe/lists — the
    // derived √N sizing keeps the per-query fraction at probe/lists
    val cand = PlantedQueries.toDouble * n * probe / lists
    Point("ivf", n, lists, probe, cand, cand / n, found, wall, steal, cpuEff,
      plantedTotal = PlantedQueries * 5)
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
    val (wall, steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .pqAnnTopK(spark, uni, queries, nHint = Some(n)))
    }
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
    val (wall, steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .ivfPqAnnTopK(spark, uni, queries, lists, probe, trainCap,
          nHint = Some(n)))
    }
    f"""{"kind":"ivfpq","n":$n,"lists":$lists,"probe":$probe,""" +
      f""""m":${TrainingOps.PqM},"k":$k,""" +
      f""""scored_fraction":${probe.toDouble / lists}%.4f,""" +
      f""""planted_found":$found,"planted_total":${PlantedQueries * 5},""" +
      f""""wall_sec":$wall%.2f,"steal_pct":$steal%.2f,""" +
      f""""cpu_eff":$cpuEff%.3f}"""
  }

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
    var rounds = 0
    var bad = -1L
    var total = -1L
    val (wall, steal, eff) = witness { () =>
      val (cc, r) = graft.queries.DedupClusters.ccWithRounds(spark, edges)
      rounds = r
      val checked = cc.withColumn("want",
        when(col("doc_id") < half, lit(0L))
          .otherwise(col("doc_id") - (col("doc_id") % 10)))
      val agg = checked.agg(count(lit(1)),
        sum(when(col("component") =!= col("want"), 1L).otherwise(0L))).head()
      total = agg.getLong(0)
      bad = agg.getLong(1)
    }
    require(total == n && bad == 0L,
      s"cc verification failed: total=$total (want $n), mismatches=$bad")
    f"""{"kind":"cc","n":$n,"edges":$nEdges,"diameter":$half,""" +
      f""""rounds":$rounds,"correct":true,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$steal%.2f,"cpu_eff":$eff%.3f}"""
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

    var cand = 0L
    var found = 0L
    val (wall, steal, cpuEff) = witness { () =>
      val buckets = TrainingOps.lshBuckets(emb, pl, "vec_id").cache()
      cand = TrainingOps.occupancyMass(buckets, "tbl", "bucket")
      // planted-pair candidate recall: bucket join restricted to the 100
      // planted ids (broadcast-sized) — completeness of the candidate
      // stage, which the exact verify preserves
      val b2 = buckets.filter(col("vec_id") >= 10000000L ||
        col("vec_id") < planted).cache()
      found = TrainingOps.bucketSelfJoin(b2, Seq("tbl", "bucket"),
          ("vec_id", "vec_i", "vec_j"))
        .filter(col("vec_j") === col("vec_i") + 10000000L).count()
      buckets.unpersist()
      b2.unpersist()
    }
    // the counterfactual: same data under the OLD 16-bit cap (one table
    // is enough — occupancy is table-independent in expectation)
    val candCap = TrainingOps.occupancyMass(TrainingOps.lshBuckets(
      emb, TrainingOps.allPlanes(1, 16), "vec_id"), "tbl", "bucket")
    emb.unpersist()
    f"""{"kind":"embcap","n":$n,"target_bucket":$targetBucket,""" +
      f""""tables":$tables,"bits":$bits,"cand_pairs":$cand,""" +
      f""""cand_per_n_per_table":${cand.toDouble / (n + planted) / tables}%.2f,""" +
      f""""capped16_cand_per_n_per_table":${candCap.toDouble / (n + planted)}%.2f,""" +
      f""""planted_found":$found,"planted_total":$planted,""" +
      f""""wall_sec":$wall%.2f,"steal_pct":$steal%.2f,""" +
      f""""cpu_eff":$cpuEff%.3f}"""
  }

  /** ANN-query-path scale point (r5 verdict item 3): [[TrainingOps
    * .lshAnnTopK]] with DERIVED (tables, bits) over n base vectors + 100
    * queries × 5 planted companions. Reports measured candidates per
    * query (distinct, pre-verify — the quantity that must stay sublinear
    * in N) from the shipped [[TrainingOps.lshAnnCandidates]], companion
    * recall through the full pipeline, and wall.
    */
  def lshannPoint(spark: SparkSession, n: Long): Point = {
    val (uni, queries) = plantedUniverse(spark, n)
    val nTotal = n + PlantedQueries * 5
    val (tables, bits) = TrainingOps.lshAnnParams(nTotal)
    val cand = TrainingOps.lshAnnCandidates(uni, queries,
      TrainingOps.allPlanes(tables, bits)).count().toDouble

    var found = 0L
    val (wall, steal, cpuEff) = witness { () =>
      found = companionsFound(TrainingOps
        .lshAnnTopK(spark, uni, queries, nHint = Some(nTotal)))
    }
    Point("lshann", n, tables, bits, cand, cand / PlantedQueries, found,
      wall, steal, cpuEff, plantedTotal = PlantedQueries * 5)
  }

  /** SimHash at scale with DERIVED banding (r4 verdict item 1): block
    * count b comes from [[TrainingOps.simhashBlocks]] (n≤2.6e5 → the
    * legacy 4 tables × 16-bit keys; 1M → 10 tables × ≥25-bit keys; …),
    * so per-table random co-bucketing falls as 2^−keyWidth instead of
    * growing ~n²/65536 (the r4-measured 304M pairs at 1M docs).
    * Candidate volume is computed exactly from (table, key) occupancies
    * of [[TrainingOps.simhashBandBuckets]], and the timed pair stage is
    * the production [[TrainingOps.simhashBandedPairs]] over 50 planted
    * exact dups for recall.
    */
  def simhashPoint(spark: SparkSession, n: Long): Point = {
    import spark.implicits._
    val planted = 50
    val base = spark.range(n).map(id => (id.toLong, docText(id)))
    val dups = spark.range(planted).map(id => (10000000L + id.toLong, docText(id)))
    val docs = base.union(dups).toDF("doc_id", "text")
    val hashed = TrainingOps.simhashes(docs).cache()
    val b = TrainingOps.simhashBlocks(n + planted, maxHamming = 3)
    val minKeyWidth =
      TrainingOps.simhashBlockWidths(b).sorted.take(b - 3).sum
    val cand = TrainingOps.occupancyMass(TrainingOps.simhashBandBuckets(
      hashed, b, maxHamming = 3), "table", "key").toDouble

    var found = 0L
    val (wall, steal, cpuEff) = witness { () =>
      found = TrainingOps.simhashBandedPairs(hashed, b, maxHamming = 3)
        .filter(col("doc_j") === col("doc_i") + 10000000L &&
          col("doc_i") < planted).count()
    }
    hashed.unpersist()
    // tables = the REAL table count C(b, b-maxHamming) keyed by the join
    // (r5 ADVICE: recording b here mislabeled the collision-curve
    // evidence); the block count rides separately as `blocks`.
    val nTables = (0 until b).combinations(b - 3).size
    Point("simhash", n, nTables, minKeyWidth, cand, cand / (n + planted),
      found, wall, steal, cpuEff, blocks = b)
  }

  private def json(p: Point): String =
    f"""{"kind":"${p.kind}","n":${p.n},"tables":${p.tables},""" +
      (if (p.blocks > 0) f""""blocks":${p.blocks},""" else "") +
      f""""bits":${p.bits},"cand_pairs":${p.candPairs}%.0f,""" +
      f""""cand_per_n":${p.candPerN}%.2f,""" +
      f""""cand_per_n_per_table":${p.candPerN / p.tables}%.2f,""" +
      f""""planted_found":${p.recall},""" +
      f""""planted_total":${p.plantedTotal},"wall_sec":${p.wallSec}%.2f,""" +
      f""""steal_pct":${p.steal}%.2f,"cpu_eff":${p.cpuEff}%.3f}"""

  /** Modes: no argument / `small` (half-size) — the default curve
    * (embedding, minhash, ivf, simhash); `simhash|ivf|lshann|cc|pq|ivfpq
    * <n> [n2 ...]` — that family's curve at the given sizes (the 10M-doc
    * SimHash point, clean-window IVF walls, …); `embcap <n> <targetBucket>
    * [n2 tb2 ...]` — past-the-old-cap occupancy evidence. Every mode runs
    * a discarded warm-up (JIT + codegen, so the first measured point is
    * not inflated by first-run compilation) and clears the cache after it
    * and after every point. One JSON array to stdout.
    */
  def main(args: Array[String]): Unit = {
    val spark = Sessions.scale()
    def ns = args.drop(1).map(_.toLong).toSeq
    // family -> (warm-up size, one datapoint as JSON)
    val curves: Map[String, (Long, Long => String)] = Map(
      "simhash" -> ((10000L, n => json(simhashPoint(spark, n)))),
      "ivf" -> ((10000L, n => json(ivfPoint(spark, n)))),
      "lshann" -> ((10000L, n => json(lshannPoint(spark, n)))),
      "cc" -> ((20000L, n => ccPoint(spark, n))),
      "pq" -> ((10000L, n => pqPoint(spark, n))),
      "ivfpq" -> ((10000L, n => ivfPqPoint(spark, n))))
    val (warmup, points): (() => Unit, Seq[() => String]) =
      args.headOption match {
        case Some("embcap") =>
          // targetBucket=2 so bits>16 holds at warm-up size too
          (() => embCapPoint(spark, 200000L, 2),
            args.drop(1).grouped(2).collect { case Array(n, tb) =>
              () => embCapPoint(spark, n.toLong, tb.toInt) }.toSeq)
        case Some(m) if curves.contains(m) =>
          val (w, point) = curves(m)
          (() => point(w), ns.map(n => () => point(n)))
        case head =>
          val small = head.contains("small")
          val embNs = if (small) Seq(10000L, 50000L) else Seq(50000L, 500000L)
          val mhNs = if (small) Seq(10000L, 100000L) else Seq(100000L, 1000000L)
          val ivfNs = if (small) Seq(50000L) else Seq(50000L, 500000L, 1000000L)
          val shNs = if (small) Seq(100000L) else Seq(100000L, 1000000L)
          (() => { embeddingPoint(spark, 2000L); minhashPoint(spark, 2000L) },
            (embNs.map(n => () => embeddingPoint(spark, n)) ++
              mhNs.map(n => () => minhashPoint(spark, n)) ++
              ivfNs.map(n => () => ivfPoint(spark, n)) ++
              shNs.map(n => () => simhashPoint(spark, n)))
              .map(p => () => json(p())))
      }
    warmup()
    spark.catalog.clearCache()
    val rows = points.map { p =>
      val row = p()
      spark.catalog.clearCache()
      row
    }
    println(rows.mkString("[", ",", "]"))
    spark.stop()
  }
}
