package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.CurationOps

/** Scale evidence for the curation family (q47-q49) on synthetic corpora
  * far past gate scale, with the same steal/cpu_eff witnesses as
  * [[DedupScaleBench]]. Every datapoint carries an EXACT correctness
  * check recomputed from the construction — a wall without a verdict is
  * not evidence.
  *
  * Modes (run: sbt -batch "runMain graft.jobs.CurationBench <mode> ..."):
  *  - `mix <n> [n2 ...]` — mixtureStats over n docs across 5 skewed
  *    languages; verifies exact per-lang doc counts and that the hash
  *    sample lands within a 5σ binomial envelope of threshold/2²⁰.
  *  - `pack <n> [n2 ...]` — packSequences at a 2048-token budget, 1
  *    stream vs 32 shards per language A/B; verifies doc and token
  *    totals are invariant and every sequence respects the budget.
  *  - `decon <n> [n2 ...]` — decontaminationReport with 100 planted
  *    eval copies; verifies exactly the planted sources are flagged.
  *  - `fork <m> [m2 ...]` — container similarity over m 8-doc containers
  *    with 50 planted forks and a vendored-library overlap profile;
  *    exact path vs MinHash path A/B (pair mass vs candidate mass, both
  *    verified to find exactly the planted fork pairs at J ≥ 0.7).
  *  - `span <n> [n2 ...]` — repeatedSpans over n docs with n/1000
  *    planted full copies; verifies exactly the planted docs flag
  *    mostly_dup and natural docs report the shared-head coverage.
  */
object CurationBench {

  /** Deterministic lang assignment with a production-shaped skew:
    * ~52% en, ~26% de, ~13% fr, ~6.5% es, ~2.5% zh.
    */
  private def langCol = {
    val m = col("doc_id") % 1000
    when(m < 520, "en").when(m < 780, "de").when(m < 910, "fr")
      .when(m < 975, "es").otherwise("zh")
  }

  private def corpus(spark: SparkSession, n: Long) = {
    import spark.implicits._
    spark.range(n).map(id => (id, DedupScaleBench.docText(id)))
      .toDF("doc_id", "text")
      .withColumn("lang", langCol)
  }

  def mixPoint(spark: SparkSession, n: Long): String = {
    val docs = corpus(spark, n)
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val (wall, steal, cpuEff) = DedupScaleBench.witness { () =>
      rows = CurationOps.mixtureStats(docs).collect()
    }
    // exact doc counts per lang from the construction (doc_id % 1000)
    def bucketCount(lo: Long, hi: Long): Long =
      (n / 1000) * (hi - lo) + math.max(0L, math.min(n % 1000, hi) - lo)
    val want = Map("en" -> bucketCount(0, 520), "de" -> bucketCount(520, 780),
      "fr" -> bucketCount(780, 910), "es" -> bucketCount(910, 975),
      "zh" -> bucketCount(975, 1000))
    val docsOk = rows.forall(r => r.getLong(1) == want(r.getString(0)))
    // hash sample must land inside a 5-sigma binomial envelope of the
    // threshold rate (the hash is uniform-ish, not adversarial)
    val sampleOk = rows.forall { r =>
      val p = r.getLong(5).toDouble / CurationOps.SampleHashMod
      val nd = r.getLong(1).toDouble
      math.abs(r.getLong(6) - p * nd) <= 5 * math.sqrt(nd * p * (1 - p)) + 1
    }
    f"""{"kind":"mix","n":$n,"langs":${rows.length},"docs_exact":$docsOk,""" +
      f""""sample_in_envelope":$sampleOk,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$steal%.2f,"cpu_eff":$cpuEff%.3f}"""
  }

  def packPoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    // ONE language: shards=1 really is one sequential stream (the 5-lang
    // corpus would give shards=1 a hidden 5-way parallelism and bias the
    // A/B); one untimed warmup pass levels JVM/page-cache state
    // cache the synthetic corpus so the timed region measures the PACKER
    // (shuffle + per-stream sort + greedy pass), not the row generator —
    // a real corpus is a parquet scan, which the generator map is not
    val docs = spark.range(n)
      .map(id => (id.toLong, DedupScaleBench.docText(id)))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .cache()
    val budget = 2048L
    val totalTokens = docs
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long")))
      .head().getLong(0)
    def run(shards: Int): (Double, Double, Double, Boolean) = {
      var ok = false
      val (wall, steal, cpuEff) = DedupScaleBench.witness { () =>
        val agg = CurationOps.packSequences(docs, budget, shards)
          .agg(sum(col("n_docs")).as("d"), sum(col("seq_tokens")).as("t"),
            sum(when(col("seq_tokens") > budget && col("n_docs") > 1, 1L)
              .otherwise(0L)).as("viol"))
          .head()
        ok = agg.getLong(0) == n && agg.getLong(1) == totalTokens &&
          agg.getLong(2) == 0L
      }
      (wall, steal, cpuEff, ok)
    }
    run(32) // warmup, untimed
    val (w1, s1, e1, ok1) = run(1)
    val (w32, s32, e32, ok32) = run(32)
    docs.unpersist()
    f"""{"kind":"pack","n":$n,"budget":$budget,"total_tokens":$totalTokens,""" +
      f""""wall_sec_shards32":$w32%.2f,"steal32":$s32%.2f,"cpu_eff32":$e32%.3f,""" +
      f""""wall_sec_shards1":$w1%.2f,"steal1":$s1%.2f,"cpu_eff1":$e1%.3f,""" +
      f""""speedup":${w1 / w32}%.2f,"totals_ok":${ok32 && ok1}}"""
  }

  def deconPoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    val planted = 100
    // eval = 100 exact copies of train docs 0,7,14,... plus 100 fresh
    // docs from a disjoint seed range; shared boilerplate heads give
    // every train doc a handful of overlap grams, so minOverlap = 10
    // separates real copies (share all ~35 grams) from head-only noise
    val train = spark.range(n)
      .map(id => (id.toLong, DedupScaleBench.docText(id)))
    val evalCopies = spark.range(planted)
      .map(i => (1000000000L + i, DedupScaleBench.docText(i * 7)))
    val evalFresh = spark.range(planted)
      .map(i => (1100000000L + i, DedupScaleBench.docText(5000000000L + i)))
    // cached for the same reason as packPoint: the operator scans its
    // input twice (gram pass + the zero-overlap left join's id pass); on
    // parquet the second is a pruned doc_id scan, on a generator map it
    // would re-run docText for every row
    val docs = train.union(evalCopies).union(evalFresh)
      .toDF("doc_id", "text").cache()
    docs.count() // materialize outside the timed region
    var flagged: Set[Long] = Set.empty
    val (wall, steal, cpuEff) = DedupScaleBench.witness { () =>
      flagged = CurationOps.decontaminationReport(docs,
          isEval = col("doc_id") >= 1000000000L, minOverlap = 10)
        .filter(col("contaminated")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }
    docs.unpersist()
    val want = (0 until planted).map(i => i.toLong * 7).filter(_ < n).toSet
    val exact = flagged == want
    f"""{"kind":"decon","n":$n,"eval_docs":${2 * planted},""" +
      f""""planted":${want.size},"flagged":${flagged.size},""" +
      f""""flagged_exact":$exact,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$steal%.2f,"cpu_eff":$cpuEff%.3f}"""
  }

  /** The classic repetition-metrics shape — explode + groupBy(doc_id,
    * gram) + re-aggregate — used ONLY as the scale A/B contrast and
    * per-doc equality oracle for the zero-shuffle sorted-run path.
    * Shuffles every token of the corpus twice; at 100 TB that is the
    * difference between a map-only pass and ~2 corpus-sized exchanges.
    */
  private def classicRep(docs: org.apache.spark.sql.DataFrame) = {
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("t"))
    val uni = toks.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_uni"), sum(col("c")).as("n_tokens"))
    val big = toks
      .select(col("doc_id"), when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1))))
        .otherwise(array().cast("array<string>")).as("b"))
      .select(col("doc_id"), explode(col("b")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_big"), sum(col("c")).as("n_bigrams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_big"))
    uni.join(big, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("top_uni"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_big"), lit(0L)).as("top_big"),
        coalesce(col("dup_big"), lit(0L)).as("dup_big"))
  }

  def repPoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    val docs = spark.range(n)
      .map(id => (id.toLong, DedupScaleBench.docText(id)))
      .toDF("doc_id", "text").cache()
    docs.count() // materialize: time the operator, not the generator
    def checksum(df: org.apache.spark.sql.DataFrame) = df
      .agg(sum(col("n_tokens")), sum(col("top_uni")), sum(col("n_bigrams")),
        sum(col("top_big")), sum(col("dup_big"))).head()
    var fastSum: org.apache.spark.sql.Row = null
    val (wFast, s1, e1) = DedupScaleBench.witness { () =>
      fastSum = checksum(CurationOps.repetitionMetrics(docs))
    }
    val (wClassic, s2, e2) =
      DedupScaleBench.witness { () => checksum(classicRep(docs)) }
    // per-doc equality of the sorted-run shortcut vs true frequency
    // counting, across ALL n docs — the scale-level correctness verdict
    val fast = CurationOps.repetitionMetrics(docs)
      .select("doc_id", "n_tokens", "top_uni", "n_bigrams", "top_big",
        "dup_big")
    val mism = fast.exceptAll(classicRep(docs)).count()
    docs.unpersist()
    f"""{"kind":"rep","n":$n,"sum_tokens":${fastSum.getLong(0)},""" +
      f""""mismatched_docs":$mism,"wall_sec":$wFast%.2f,""" +
      f""""wall_sec_classic":$wClassic%.2f,""" +
      f""""speedup_vs_classic":${wClassic / wFast}%.2f,""" +
      f""""steal_pct":$s1%.2f,"cpu_eff":$e1%.3f,""" +
      f""""steal_classic":$s2%.2f,"cpu_eff_classic":$e2%.3f}"""
  }

  /** One synthetic source-code container = 8 docs. Doc 0 carries a
    * "library" sentence shared by ~containers/400 other containers (the
    * vendored-dependency shape): 6 tokens → 4 shingles with document
    * frequency well under the container-DF cap, so the EXACT inverted
    * index must materialize C(sharers, 2) pair rows per library shingle
    * — the quadratic mass the MinHash path is built to avoid. The
    * 7-token boilerplate head every doc shares has df = #containers and
    * is removed by the cap (its designed job).
    */
  private def baseDoc(c: Long, j: Int): String = {
    val t = DedupScaleBench.docText(c * 8 + j)
    if (j == 0) {
      val g = c % 400
      t + s" lib${g}a lib${g}b lib${g}c lib${g}d lib${g}e lib${g}f"
    } else t
  }

  /** m natural containers c0..c(m−1) plus `planted` forks: fork fi
    * copies 7 of base ci's 8 docs verbatim (library sentence included)
    * and adds 1 unique doc → gram Jaccard ≈ 0.78, above the 0.7 pair
    * threshold; every non-fork pair sits orders of magnitude below it.
    */
  private def forkCorpus(spark: SparkSession, m: Long, planted: Int) = {
    import spark.implicits._
    spark.range((m + planted) * 8).map { did =>
      val c = did / 8; val j = (did % 8).toInt
      if (c < m) (s"c$c", baseDoc(c, j))
      else {
        val i = c - m
        if (j < 7) (s"f$i", baseDoc(i, j))
        else (s"f$i", DedupScaleBench.docText(9000000000L + i))
      }
    }.toDF("cid", "text")
  }

  def forkPoint(spark: SparkSession, m: Long): String = {
    import graft.queries.{ContainerOps, TrainingOps}
    val planted = 50
    val threshold = 0.7
    val docs = forkCorpus(spark, m, planted).cache()
    docs.count() // materialize: time the operators, not the generator
    val want = (0 until planted).map(i => (s"c$i", s"f$i")).toSet
    // exact-path pair mass from the capped index (the quantity the
    // inverted-index groupBy must shuffle), plus its wall + verdict
    var exactPairs = Set.empty[(String, String)]
    var pairMass = 0L
    val (wExact, s1, e1) = DedupScaleBench.witness { () =>
      val sim = ContainerOps.containerSimilarity(docs, "cid").cache()
      pairMass = sim.count()
      exactPairs = sim.filter(col("jaccard") >= threshold)
        .select("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      sim.unpersist()
      ()
    }
    spark.catalog.clearCache(); docs.cache(); docs.count()
    // minhash-path candidate mass from bucket occupancies (untimed
    // diagnostic — it shares the signing stages the timed run repeats)
    val candMass = TrainingOps.occupancyMass(
      ContainerOps.containerBandBuckets(docs, "cid", threshold), "band", "bh")
    spark.catalog.clearCache(); docs.cache(); docs.count()
    // the full verified minhash pipeline, timed
    var mhPairs = Set.empty[(String, String)]
    val (wMh, s2, e2) = DedupScaleBench.witness { () =>
      mhPairs = ContainerOps.containerMinhashPairs(docs, "cid", threshold)
        .select("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    docs.unpersist(); spark.catalog.clearCache()
    f"""{"kind":"fork","containers":$m,"docs":${(m + planted) * 8},""" +
      f""""planted":$planted,"exact_found":${exactPairs.size},""" +
      f""""exact_ok":${exactPairs == want},"mh_found":${mhPairs.size},""" +
      f""""mh_ok":${mhPairs == want},"inverted_pair_mass":$pairMass,""" +
      f""""mh_cand_mass":$candMass,""" +
      f""""cand_per_container":${candMass.toDouble / m}%.3f,""" +
      f""""wall_exact_sec":$wExact%.2f,"wall_mh_sec":$wMh%.2f,""" +
      f""""steal_exact":$s1%.2f,"cpu_eff_exact":$e1%.3f,""" +
      f""""steal_mh":$s2%.2f,"cpu_eff_mh":$e2%.3f}"""
  }

  def spanPoint(spark: SparkSession, n: Long): String = {
    import spark.implicits._
    // the verdict construction needs >= 2 planted copies (a lone
    // "duplicate" has nothing to repeat against) and natural docs
    require(n >= 2000, s"span mode needs n >= 2000, got $n")
    // planted full-copy duplicates: every id ≡ 7 (mod 1000) carries the
    // SAME text → all its windows repeat → mostly_dup must flag exactly
    // these. Natural docs share only the 7-token boilerplate head
    // (covered 7 of ~37 tokens — under the half-doc flag line).
    val docs = spark.range(n).map { id =>
      val text = if (id % 1000 == 7) DedupScaleBench.docText(7)
                 else DedupScaleBench.docText(id)
      (id.toLong, text)
    }.toDF("doc_id", "text").cache()
    docs.count()
    var flagged = Set.empty[Long]
    var headCovered = 0L
    val (wall, steal, cpuEff) = DedupScaleBench.witness { () =>
      val r = CurationOps.repeatedSpans(docs).cache()
      flagged = r.filter(col("mostly_dup")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      // natural docs must still report the shared-head coverage (7)
      headCovered = r.filter(!col("mostly_dup"))
        .agg(min(col("covered_tokens"))).head().getLong(0)
      r.unpersist()
      ()
    }
    docs.unpersist(); spark.catalog.clearCache()
    val want = (0L until n).filter(_ % 1000 == 7).toSet
    // Extras beyond the planted set are NOT automatically failures: at
    // n ≥ 4M, java.util.Random seed aliasing makes some natural doc
    // pairs share 20+ consecutive words (seed b equals seed a's evolved
    // LCG state), and the operator CORRECTLY flags them. Each extra is
    // re-verified driver-side: its covered-token mass against the other
    // extras' + the planted text's windows must independently reach the
    // half-doc line (aliased partners flag together, so the witness set
    // is the extras themselves).
    val extras = (flagged -- want).toSeq.sorted
    def windows(t: String): Set[String] =
      t.trim.split("\\s+").sliding(5).map(_.mkString(" ")).toSet
    def coveredVs(a: String, other: Set[String]): (Long, Long) = {
      val toks = a.trim.split("\\s+")
      val ps = toks.sliding(5).zipWithIndex
        .collect { case (w, i) if other(w.mkString(" ")) => i + 1 }.toSeq
      var prev = -1; var cov = 0L
      ps.foreach { p =>
        cov += (if (prev < 0) 5L else math.min(p - prev, 5).toLong)
        prev = p
      }
      (cov, toks.length.toLong)
    }
    val extrasGenuine = extras.forall { id =>
      val partners = (extras.filter(_ != id).map(DedupScaleBench.docText)
        :+ DedupScaleBench.docText(7)).flatMap(windows).toSet
      val (cov, nt) = coveredVs(DedupScaleBench.docText(id), partners)
      cov * 2 >= nt
    }
    f"""{"kind":"span","n":$n,"planted":${want.size},""" +
      f""""flagged":${flagged.size},""" +
      f""""planted_all_flagged":${want.subsetOf(flagged)},""" +
      f""""extras":${extras.size},"extras_genuine":$extrasGenuine,""" +
      f""""min_natural_covered":$headCovered,"wall_sec":$wall%.2f,""" +
      f""""steal_pct":$steal%.2f,"cpu_eff":$cpuEff%.3f}"""
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("mix")
    val ns = args.drop(1).map(_.toLong).toSeq match {
      case Seq() => Seq(1000000L)
      case s => s
    }
    val spark = Sessions.scale()
    val out = ns.map { n =>
      mode match {
        case "pack" => packPoint(spark, n)
        case "decon" => deconPoint(spark, n)
        case "rep" => repPoint(spark, n)
        case "fork" => forkPoint(spark, n)
        case "span" => spanPoint(spark, n)
        case _ => mixPoint(spark, n)
      }
    }
    spark.stop()
    out.foreach(println)
  }
}
