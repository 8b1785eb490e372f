package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the stage BETWEEN dedup/filtering and
  * training that decides WHAT the model actually sees: language-mixture
  * weighting with deterministic stratified sampling (q47), fixed-budget
  * sequence packing (q48), and benchmark decontamination (q49). The
  * reference stops at profiling/filtering (it has no curation plane);
  * these extend the engine to the full pretraining-data workflow, same
  * oracle discipline as [[TrainingOps]]: exact integers, doubles only
  * from single operations on exact values (sqrt/floor/one division are
  * IEEE-754 correctly rounded, so Spark and DuckDB agree bit-for-bit).
  */
object CurationOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Knuth multiplicative constant for the sampling hash. The hash must be
    * expressible in BOTH engines with identical semantics, so it is plain
    * 64-bit modular arithmetic (`doc_id * K % 2^20`) rather than xxhash64
    * (which DuckDB lacks). Domain: doc_id ≥ 0 and doc_id * K must not
    * overflow a signed 64-bit value (doc_id < 3.4e9) — past that, swap in
    * a pre-bucketed id column; the operator contract is only that the
    * per-doc hash is a pure deterministic function with ~uniform low bits.
    */
  val SampleHashMul = 2654435761L

  /** Sampling-hash modulus (2²⁰ buckets → rate granularity ~1e-6). */
  val SampleHashMod = 1048576L

  /** Per-language mixture statistics with temperature-style weights and a
    * DETERMINISTIC stratified sample count (mixture family). Weight =
    * sqrt(token share) — the α=0.5 point of the standard temperature
    * scheme w ∝ share^α that up-weights low-resource languages (α=1 is
    * proportional, α=0 uniform); sqrt is used because IEEE-754 defines it
    * correctly rounded, so the oracle reproduces it bit-for-bit where a
    * general pow may differ in the last ulp. The sample is hash-based
    * (doc sampled iff `hash(doc_id) < floor(weight · 2²⁰)`), so it is
    * reproducible run-to-run, partition-layout-independent, and needs no
    * per-row RNG state — the property that makes a 10¹²-doc sample
    * auditable and resumable.
    *
    * Scale: two scans. Pass 1 reads (lang, text) → per-lang token totals
    * (5-ish keys, map-side partial agg, one tiny shuffle). Pass 2 reads
    * ONLY (doc_id, lang) — column pruning keeps it cheap — and counts
    * hash hits against the broadcast 5-row threshold table. No join ever
    * shuffles the corpus.
    */
  def mixtureStats(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = st.agg(sum(col("n_tokens")).as("total_tokens"))
    val wt = st.crossJoin(broadcast(tot)) // 1 row: global token total
      .withColumn("share",
        col("n_tokens").cast("double") / col("total_tokens"))
      .withColumn("weight", sqrt(col("share")))
      .withColumn("threshold",
        floor(col("weight") * SampleHashMod).cast("long"))
    // pass 2: (doc_id, lang) only — the sampling decision is a pure
    // per-row function of doc_id vs the broadcast per-lang threshold
    val hashes = docs.select(col("lang"),
      ((col("doc_id") * SampleHashMul) % SampleHashMod).as("h"))
    val sampled = hashes
      .join(broadcast(wt.select(col("lang"), col("threshold"))), Seq("lang"))
      .groupBy(col("lang"))
      .agg(sum(when(col("h") < col("threshold"), 1L).otherwise(0L))
        .as("sampled_docs"))
    wt.join(sampled, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("share"),
        col("weight"), col("threshold"), col("sampled_docs"))
      .orderBy(col("lang"))
  }

  /** q47 — training-mixture report over `documents`: per-language doc and
    * token counts, token share, sqrt-temperature weight, the derived
    * integer sampling threshold, and the deterministic hash-sampled doc
    * count. The oracle recomputes every column (including the sampled
    * count, doc by doc) with the identical arithmetic.
    */
  def q47TrainingMixture(spark: SparkSession, dir: String): DataFrame =
    mixtureStats(t(spark, dir, "documents"))

  /** Greedy in-order sequence packing (packing family): documents are
    * packed, in doc_id order within each (lang, shard) stream, into
    * training sequences of at most `budget` tokens — a doc that does not
    * fit closes the current sequence and opens the next (a doc longer
    * than the budget gets a sequence of its own). Output is one row per
    * sequence. This is the standard pretraining packer shape (fill
    * ratio = padding waste avoided); in-order packing (vs bin-packing)
    * keeps the result a pure function of the sorted stream, which is
    * what makes it verifiable and resumable at corpus scale.
    *
    * Scale: packing is sequential BY NATURE within a stream, so the
    * parallel unit is the stream: `shards` splits each language into
    * independent streams (shard = doc_id % shards), `repartition(lang,
    * shard)` + `sortWithinPartitions` gives each stream a contiguous
    * sorted run inside one partition, and one mapPartitions pass packs
    * every run it holds — no driver involvement, no global sort. At
    * 10¹² docs you size `shards` so a stream fits one task (~10⁶ docs);
    * the q48 gate pins the canonical shards=1 semantics the oracle can
    * recompute with a recursive CTE.
    */
  def packSequences(docs: DataFrame, budget: Long,
      shards: Int = 1): DataFrame = {
    require(budget > 0 && shards > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col("lang"),
        (col("doc_id") % shards).cast("int").as("shard"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .as[(String, Int, Long, Long)]
    val assigned = tok
      .repartition(col("lang"), col("shard"))
      .sortWithinPartitions(col("lang"), col("shard"), col("doc_id"))
      .mapPartitions { it =>
        // each (lang, shard) stream is contiguous here; greedy state
        // resets at every stream boundary
        var lang: String = null
        var shard = Int.MinValue
        var seq = 0L
        var acc = -1L // -1 = no open sequence
        it.map { case (l, sh, _, nt) =>
          if (l != lang || sh != shard) {
            lang = l; shard = sh; seq = 0L; acc = -1L
          }
          if (acc >= 0 && acc + nt <= budget) acc += nt
          else { seq += 1L; acc = nt }
          (l, sh, seq, nt)
        }
      }
      .toDF("lang", "shard", "seq_id", "n_tokens")
    assigned.groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
      .withColumn("fill_ratio",
        col("seq_tokens").cast("double") / budget)
      .orderBy(col("lang"), col("shard"), col("seq_id"))
  }

  /** q48 — sequence packing over `documents` at a 256-token budget,
    * single stream per language (the oracle-canonical shape): one row per
    * packed sequence with its doc count, token count and fill ratio. The
    * oracle replays the greedy recurrence exactly with a recursive CTE.
    */
  def q48SequencePacking(spark: SparkSession, dir: String): DataFrame =
    packSequences(t(spark, dir, "documents"), budget = 256L)
      .drop("shard") // canonical single-shard gate shape

  /** Benchmark decontamination report (decontamination family): for every
    * training document, the number of distinct word 3-grams it shares
    * with the evaluation set (the union of eval-doc 3-grams), and a
    * contaminated verdict at `minOverlap`. N-gram overlap against held-out
    * benchmarks is the standard pre-training decontamination check; the
    * 3-gram definition is IDENTICAL to the dedup family's shingles
    * ([[TrainingOps.shingleSets]]), so one tokenization serves both.
    *
    * Scale: eval sets (benchmarks) are tiny by construction, so the eval
    * gram set broadcasts and the corpus-side join is shuffle-free — the
    * corpus is scanned once, exploded to (doc_id, gram-hash) rows, and
    * reduced per doc. Grams ride as xxhash64 longs (the shingle-stage
    * discipline: 8 bytes, not strings). A production run would DF-cap
    * boilerplate grams exactly like the dedup index; the gate keeps the
    * uncapped exact semantics the oracle recomputes.
    */
  def decontaminationReport(docs: DataFrame, isEval: Column,
      minOverlap: Int): DataFrame = {
    val flagged = docs.withColumn("is_eval", isEval)
    // ONE tokenize+shingle pass over the whole corpus (r7): both splits
    // read the same cached shingle-array frame and filter on is_eval —
    // the old shape ran the interpreted gram generator (spread +
    // transform + cache) separately per split. Values identical: the
    // per-doc gram sets do not depend on which split holds the doc.
    val arr = graft.profile.Profiler.spread(docs.sparkSession, flagged)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(TrainingOps.ShingleTransformSql))
      .select(col("doc_id"), col("is_eval"), col("shingles"))
      .cache()
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(col("shingles")).as("str"))
        .select(col("doc_id"), xxhash64(col("str")).as("s"))
    val evalGrams = grams(arr.filter(col("is_eval")))
      .select(col("s")).distinct()
    val train = flagged.filter(!col("is_eval"))
    val hits = grams(arr.filter(!col("is_eval")))
      .join(broadcast(evalGrams), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap")) // per-doc grams are distinct
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap_grams"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q49 — decontamination over `documents` with a deterministic planted
    * eval split (doc_id % 50 == 0 plays the benchmark) and verdict
    * threshold ≥ 2 shared 3-grams. Every train doc is reported (zero
    * overlap included), so the gate checks both directions: contaminated
    * docs flagged AND clean docs not.
    */
  def q49Decontamination(spark: SparkSession, dir: String): DataFrame =
    decontaminationReport(t(spark, dir, "documents"),
      isEval = col("doc_id") % 50 === 0, minOverlap = 2)

  /** Multiplier for the shuffle order key — a different LCG constant than
    * [[SampleHashMul]] so shard order does not correlate with the q47
    * sampling decision. Same overflow domain note as the sampling hash.
    */
  val ShuffleKeyMul = 1566083941L

  /** Shuffle-key modulus (2²⁰; ties broken by doc_id, so the global order
    * is total regardless of key collisions).
    */
  val ShuffleKeyMod = 1048576L

  /** Deterministic global shuffle + shard assignment (the LAST curation
    * step: training wants the corpus in pseudorandom order, split into
    * fixed shards, and the permutation must be reproducible so a resumed
    * or re-run job writes byte-identical shards). Each doc gets a
    * pseudorandom order key (`doc_id·K mod 2²⁰`, ties broken by doc_id);
    * shard = key mod nShards; docs are ordered by key within their
    * shard. Output is one row per shard with its doc/token totals, key
    * range, and an order CHECKSUM (Σ position·doc_id over the within-
    * shard order) that pins the entire permutation — any transposition
    * of two docs changes it.
    *
    * Scale: no global sort. The shard column hash-partitions the corpus
    * in one shuffle; the within-shard order is a per-partition sort (a
    * production writer does `repartition(shard)` +
    * `sortWithinPartitions(key)` + write, which is exactly this plan
    * minus the checksum window). At 10¹² docs swap the 2²⁰ modular key
    * for a 64-bit hash; the contract is only determinism + uniformity.
    */
  def shuffleShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0)
    val tok = docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("key", (col("doc_id") * ShuffleKeyMul) % ShuffleKeyMod)
      .withColumn("shard", (col("key") % nShards).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    tok.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"),
        sum(col("rn") * col("doc_id")).as("order_checksum"))
      .orderBy(col("shard"))
  }

  /** q50 — the deterministic shuffle over `documents` into 16 shards.
    * The oracle recomputes key/shard/order per doc and the permutation
    * checksum per shard, so a single swapped pair anywhere in any
    * shard's order fails the hash gate.
    */
  def q50ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    shuffleShards(t(spark, dir, "documents"), nShards = 16)

  /** Quality-bucketed data selection (selection family): docs are scored
    * (distinct-token ratio — a deterministic stand-in for any per-doc
    * quality model; one exact division, so the oracle reproduces it) and
    * split per language into k equal-frequency buckets by NTILE over
    * (score, doc_id). "Train on the top-quality quantiles per language"
    * is the standard selection step after filtering; the per-bucket
    * token mass is what the mixture planner consumes.
    *
    * Scale: the NTILE window sorts WITHIN each language — parallel
    * across languages, like [[packSequences]] streams. For one mono-lang
    * 10¹²-doc corpus, the documented relaxation is the q45 discipline:
    * `approx_percentile(score, boundaries)` → bucket by range (fixed-size
    * sketches, no global sort); the gate pins the exact-NTILE semantics
    * the oracle can recompute.
    */
  def qualityBuckets(docs: DataFrame, k: Int = 4): DataFrame = {
    require(k > 0)
    val toks = split(trim(col("text")), "\\s+")
    val scored = docs.select(col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_tokens"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    scored.withColumn("bucket", ntile(k).over(w).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bucket_tokens"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** q51 — per-language quality quartiles over `documents`: one row per
    * (lang, quartile) with doc count, token mass and the score range.
    * The oracle replays score, NTILE assignment and every aggregate.
    */
  def q51QualityBuckets(spark: SparkSession, dir: String): DataFrame =
    qualityBuckets(t(spark, dir, "documents"), k = 4)

  /** Run-length statistics over a SORTED string array: `best` = length of
    * the longest run (= highest frequency of any element) and `dup` =
    * total elements sitting in runs of length > 1 (= instances of
    * repeated elements). Computed with the `aggregate` higher-order
    * function in one pass — `dup` grows by 2 when a run reaches length 2
    * (both instances become "duplicated") and by 1 per further repeat.
    * The empty-string zero sentinel cannot collide with a real token
    * because `run > 0` guards the first comparison.
    */
  private def runStats(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("dup")),
      (acc, x) => {
        val same = acc.getField("run") > 0 && acc.getField("prev") === x
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(
          x.as("prev"),
          run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          when(same, acc.getField("dup") +
            when(acc.getField("run") === 1L, 2L).otherwise(1L))
            .otherwise(acc.getField("dup")).as("dup"))
      },
      acc => struct(acc.getField("best").as("best"),
        acc.getField("dup").as("dup")))

  /** Integer cross-multiplication thresholds for the repetition flags —
    * `top_uni·8 > n_tokens` (top token > 1/8 of the doc), `top_big·18 >
    * n_bigrams` (top bigram > 1/18), `dup_big·10 > n_bigrams` (> 1/10 of
    * bigram instances repeated). Integer compares, so Spark and the
    * oracle agree exactly with no float-epsilon parity risk. The shape
    * follows the published Gopher repetition-removal rules (Rae et al.
    * 2021, table A1: top-n-gram fraction / duplicate-n-gram fraction);
    * the denominators are tuned to this corpus so each flag fires on a
    * meaningful minority (~15–19% at sf0.01).
    */
  val RepUniDen = 8L
  val RepBigDen = 18L
  val RepDupDen = 10L

  /** Per-document repetition metrics (quality-filter family): token
    * count, top-unigram frequency, bigram count, top-bigram frequency,
    * duplicated-bigram instance count, and the three threshold flags.
    *
    * Scale — this is deliberately NOT explode + groupBy(doc_id, gram):
    * that shape shuffles every token of a 100 TB corpus twice. Instead
    * each row sorts its own token/bigram arrays (`array_sort`) and
    * counts runs with the `aggregate` higher-order function — the max
    * run length in a sorted array IS the max frequency. Zero shuffles,
    * zero UDFs: the whole operator pipelines inside one whole-stage
    * codegen pass over the scan, embarrassingly parallel at any corpus
    * size (cost is O(len·log len) per row, local to its partition).
    *
    * `keep` passes extra columns (e.g. source/lang) through for
    * downstream aggregation without a re-join.
    */
  def repetitionMetrics(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    // r7 parallelism guard (the shingleSets spread rule): the per-row
    // sort + run-count aggregates are interpreted HOFs, and the gate
    // parquet is ONE row group — unspread, q52's whole pass ran on one
    // task (bench par ≈ 0.9 at 1.76 s). At real scale the input already
    // has ≥ cores partitions → no-op.
    val withArrays = graft.profile.Profiler.spread(docs.sparkSession, docs)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("bgs",
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ",
              element_at(col("toks"), i), element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>")))
      .withColumn("uni", runStats(array_sort(col("toks"))))
      .withColumn("big", runStats(array_sort(col("bgs"))))
    withArrays.select(
      (keep.map(col) :+ col("doc_id")) ++ Seq(
        size(col("toks")).cast("long").as("n_tokens"),
        col("uni.best").as("top_uni"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        col("big.best").as("top_big"),
        col("big.dup").as("dup_big"),
        (col("uni.best") * RepUniDen > size(col("toks"))).as("rep_uni"),
        (col("big.best") * RepBigDen > size(col("bgs"))).as("rep_big"),
        (col("big.dup") * RepDupDen > size(col("bgs"))).as("rep_dup")): _*)
  }

  /** q52 — repetition metrics over `documents`; the oracle recomputes
    * every count the classic way (unnest → group → max/sum), so the
    * sorted-run shortcut is proven equal to true frequency counting on
    * every row.
    */
  def q52RepetitionMetrics(spark: SparkSession, dir: String): DataFrame =
    repetitionMetrics(t(spark, dir, "documents")).orderBy(col("doc_id"))

  /** Source-level quality profile (curation family): one row per corpus
    * source with doc/token mass, language diversity, how many docs trip
    * any repetition flag, and the aggregate duplicated-bigram share —
    * the decision table for "keep, down-weight, or drop this crawl".
    * A source goes to `review` when more than half its docs are
    * repetition-flagged (integer cross-multiplication again).
    *
    * Rates are one division of exact integer sums (IEEE-754 correctly
    * rounded → bit-identical in the oracle); per-doc ratios are never
    * summed, because a float sum's value depends on partition order.
    *
    * Scale: the per-doc metrics are the zero-shuffle pass above; the
    * only shuffle moves pre-aggregated partials into #sources keys.
    * Language diversity is `size(collect_set(lang))` rather than
    * countDistinct so the plan stays a single aggregate (no Expand
    * doubling the scan) — safe because languages are bounded, not
    * corpus-sized.
    */
  def sourceQualityProfile(docs: DataFrame): DataFrame =
    repetitionMetrics(docs, keep = Seq("source", "lang"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        size(array_sort(collect_set(col("lang")))).cast("long").as("n_langs"),
        sum(when(col("rep_uni") || col("rep_big") || col("rep_dup"), 1L)
          .otherwise(0L)).as("n_rep_flagged"),
        sum(col("dup_big")).as("sum_dup_big"),
        sum(col("n_bigrams")).as("sum_bigrams"))
      .withColumn("rep_flag_rate",
        col("n_rep_flagged").cast("double") / col("n_docs"))
      .withColumn("dup_big_share",
        col("sum_dup_big").cast("double") / col("sum_bigrams"))
      .withColumn("review", col("n_rep_flagged") * 2L > col("n_docs"))
      .orderBy(col("source"))

  /** q53 — the 20-source quality decision table over `documents`. */
  def q53SourceQuality(spark: SparkSession, dir: String): DataFrame =
    sourceQualityProfile(t(spark, dir, "documents"))

  /** q64 — the q51 scale relaxation made RUNNABLE and driver-gated (the
    * q45 discipline): quality-quantile boundaries from
    * `approx_percentile` instead of the exact NTILE total order. NTILE
    * sorts within each language — fine while languages are many, but a
    * mono-lang 10¹²-doc corpus would global-sort; the sketch path is
    * one aggregate with fixed memory.
    *
    * Gate contract (tie-robust, the standard quantile-sketch
    * guarantee): for each language and target quantile q ∈ {¼, ½, ¾},
    * the sketch boundary b must have exact-rank interval
    * [count(score < b), count(score ≤ b)] intersecting
    * [q·n − εn, q·n + εn] with ε = 1/accuracy. The envelope booleans
    * are computed Spark-side against EXACT counts; the oracle
    * recomputes every exact column and expects the booleans TRUE — if
    * the sketch ever drifts out of its guarantee the hash gate fails
    * (q45's trust model; raw sketch values are engine-specific and
    * never surface in the output).
    */
  def q64ApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val accuracy = 1000
    val toks = split(trim(col("text")), "\\s+")
    // cached: the tokenization feeds BOTH the sketch aggregate and the
    // exact-rank pass; released by the harness clearCache (house rule)
    val scored = t(spark, dir, "documents").select(col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      .cache()
    val bounds = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("score"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy)).as("bs"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        posexplode(col("bs")).as(Seq("qi0", "b")))
      .withColumn("quantile_idx", (col("qi0") + 1).cast("long")).drop("qi0")
    val ranks = scored.join(broadcast(bounds), Seq("lang"))
      .groupBy(col("lang"), col("quantile_idx"), col("n_docs"), col("b"))
      .agg(sum(when(col("score") < col("b"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("score") <= col("b"), 1L).otherwise(0L)).as("le"))
    val qn = col("quantile_idx") * col("n_docs").cast("double") / 4.0
    // ε·n ± 1: the sketch's guarantee is on ⌊(p±ε)N⌋ ranks, so one rank
    // of floor/ceil rounding rides on top of ε·n (measured max drift at
    // sf0.1 is 1.8 ranks vs ε·n up to 2.06 — the +1 covers exactly the
    // small-n regime where ε·n < 1)
    val epsN = col("n_docs").cast("double") / accuracy + 1.0
    ranks.select(col("lang"), col("quantile_idx"), col("n_docs"),
        floor(col("quantile_idx") * col("n_docs") / lit(4L)).cast("long")
          .as("target_rank"),
        (col("lt") <= qn + epsN && col("le") >= qn - epsN)
          .as("in_envelope"))
      .orderBy(col("lang"), col("quantile_idx"))
  }

  /** Window width for [[repeatedSpans]] — the q57 gate operating point.
    * Production exact-substring dedup uses ~50-token windows (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better");
    * the gate corpus' docs are short, so the gate pins k=5. The operator
    * is k-generic.
    */
  val SpanK = 5

  /** Cross-document repeated-span statistics (the EXACT-SUBSTRING dedup
    * shape, position-level where q15/q16 are document-level): every
    * token position opens a k-token window; a position is REPEATED when
    * its window occurs ≥ `minCount` times in the whole corpus (all
    * occurrences count — a window repeated within one doc is exactly the
    * self-plagiarism exact-substring dedup removes). Output per doc:
    * token count, repeated-position count, `covered_tokens` = size of
    * the UNION of repeated windows (overlaps merged: k for the first
    * position of a run, min(gap, k) per successor — the sorted-position
    * recurrence), the covered fraction, and `mostly_dup` (covered ≥ half
    * the doc, integer cross-multiplication). This is the per-doc report
    * a span-scrubbing rewrite pass consumes; suffix arrays (the
    * single-node literature shape) don't distribute — the k-gram window
    * index is the Spark-native equivalent with the same detection power
    * for spans ≥ k.
    *
    * Scale: one corpus scan explodes positions (map-side, spread-
    * guarded); the window frequency is ONE groupBy on the 8-byte window
    * hash; repeated positions come back via the (already co-partitioned
    * by AQE) hash join on that key; the per-doc merge is a groupBy(doc)
    * over repeated positions only — overwhelmingly smaller than the
    * corpus (429/500 gate docs contribute zero rows). A production run
    * caps boilerplate windows by DF exactly like the shingle family;
    * the gate keeps uncapped exact semantics the oracle replays.
    */
  def repeatedSpans(docs: DataFrame, k: Int = SpanK,
      minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2)
    // (r7 notes, both variants tried and kept OUT: (a) a single-pass
    // groupBy(s).collect_list(struct(doc_id, pos)) frequency stage —
    // window hashes are ~unique, so per-key object-agg buffers made it
    // 6× slower; (b) hashing the k tokens as xxhash64(toks[i-1], …,
    // toks[i+k-2]) instead of slice+concat_ws — 11 interpreted sub-evals
    // per position vs 3, ~6× slower inside the interpreted lambda.)
    // cache the window-ARRAY stage before the explode (the house shingle
    // rule, r7 — it was missing here): an explode whose child is the
    // uncached interpreted-HOF generator costs ~15× the array
    // materialization itself (OPTIMIZATION_r07.md, "q56 / q60" and
    // "q57 — repeated spans"; same pathology the shingle family
    // documents). Both caches released by the harness clearCache.
    val warr = graft.profile.Profiler.spread(docs.sparkSession, docs)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      // sequence/slice are clamped defensively: Catalyst may evaluate the
      // projection on rows the filter later discards (observed on the
      // interpreted-HOF path), and sequence(1, n<1) turns DESCENDING,
      // feeding slice a zero start. Clamped rows never survive the
      // filter, so the clamp is value-invisible.
      .withColumn("w", expr(
        s"transform(sequence(1, greatest(size(toks) - ${k - 1}, 1)), " +
          s"i -> struct(i AS pos, xxhash64(concat_ws(' ', slice(toks, i, $k))) AS s))"))
      .select(col("doc_id"), col("w"))
      .cache()
    val pos = warr
      .select(col("doc_id"), explode(col("w")).as("w"))
      .select(col("doc_id"), col("w.pos"), col("w.s"))
      .cache() // feeds the frequency agg AND the position join
    val rep = pos.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("s"))
    val merged = pos.join(rep, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rep_positions"),
        array_sort(collect_list(col("pos"))).as("ps"))
      .withColumn("covered_tokens",
        aggregate(col("ps"),
          struct(lit(-1).as("prev"), lit(0L).as("cov")),
          (acc, p) => struct(p.as("prev"),
            (acc.getField("cov") + when(acc.getField("prev") < 0, k)
              .otherwise(least(p - acc.getField("prev"), lit(k))))
              .as("cov")),
          acc => acc.getField("cov")))
      .select(col("doc_id"), col("n_rep_positions"), col("covered_tokens"))
    docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rep_positions"), lit(0L)).as("n_rep_positions"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("covered_frac"),
        (coalesce(col("covered_tokens"), lit(0L)) * 2L >= col("n_tokens"))
          .as("mostly_dup"))
      .orderBy(col("doc_id"))
  }

  /** q57 — repeated 5-gram spans over `documents`: per doc the repeated-
    * window positions, merged covered-token mass, fraction and the
    * half-covered flag. The oracle replays window construction, global
    * frequency, and the span-merge recurrence (lag + LEAST) in SQL;
    * flags are integer cross-multiplications. Fires on exactly the
    * planted high-duplication docs (47/500 at sf0.01).
    */
  def q57RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    repeatedSpans(t(spark, dir, "documents"))
}
