package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Container-level (repository / crawl-source) similarity — fork and
  * mirror detection. Doc-level dedup (q08/q15/q16/q17) removes copied
  * FILES; a code corpus additionally carries copied CONTAINERS: forks,
  * vendored trees and mirrored repos whose files are individually unique
  * enough to survive doc-level thresholds but whose aggregate content is
  * one repository counted many times. The unit of comparison here is the
  * container's gram SET (the union of its documents' word 3-grams — the
  * same shingle definition as the whole dedup family, so one tokenizer
  * rules them all), compared by Jaccard for mirror detection and by
  * containment (|A∩B| / min(|A|,|B|)) for fork/vendoring detection —
  * containment catches a small repo embedded in a big one, which Jaccard
  * dilutes toward zero.
  *
  * Reference scope note: the reference profiles one database at a time
  * (`services/version_service.py` compares VERSIONS of one catalog);
  * cross-container comparison is a beyond-reference operator of the
  * training-data plane, same family as q46-q53.
  *
  * Scale shape (the 10⁸-repo design point):
  *  - The exact pairwise path ([[containerSimilarity]]) is the ORACLE
  *    BASELINE, exactly as q15 is for q16: an inverted index on the gram
  *    (one shuffle), self-join per gram, so a gram shared by c containers
  *    contributes c·(c−1)/2 pair rows — the container-df cap bounds that
  *    fan-out (boilerplate grams — license headers, codegen preambles —
  *    are precisely the grams shared by MANY containers and carry no
  *    fork signal).
  *  - The production path ([[containerMinhashPairs]]) minhash-signs each
  *    container's gram stream with ONE groupBy (map-side partial min —
  *    signatures never materialize the gram sets), bands the signatures
  *    with the derived (r, b) of [[TrainingOps.minhashBanding]], and
  *    exact-verifies only bucket-collision candidates. Per-container
  *    state is r·b longs regardless of repo size.
  */
object ContainerOps {

  /** Grams appearing in more than this many containers are dropped before
    * pairing (boilerplate cap — the container-level analogue of
    * [[TrainingOps.ShingleDfCap]]). Bounds the inverted-index fan-out at
    * cap²-per-gram; never trips at gate scale (20 sources), so the
    * DuckDB oracle can ignore it.
    */
  val ContainerDfCap = 1000

  /** Flag denominators (integer cross-multiplication — no float parity
    * risk): `near_dup` = Jaccard ≥ 1/[[NearDupDen]] (mirror candidates),
    * `fork_like` = containment ≥ 1/[[ForkDen]] (one side largely embedded
    * in the other). Tuned so each fires on a meaningful minority of the
    * gate corpus (9/190 resp. 6/190 source pairs at sf0.01).
    */
  val NearDupDen = 20L
  val ForkDen = 10L

  /** Distinct (cid, s) gram rows per container: the shared word-3-gram
    * definition ([[TrainingOps.shingleSets]]), grouped by the container
    * column instead of doc_id, grams as xxhash64 longs (8-byte shuffle
    * payload — the house discipline). The per-doc `array_distinct` stays:
    * the container-level DISTINCT collapses cross-doc repeats anyway, and
    * dropping per-doc dedup first would explode strictly more rows.
    *
    * r7: production paths now ride [[gramSets]] (ONE groupBy(s) instead
    * of distinct + hot-df pass + anti-join); this frame remains the
    * UNCACHED plan-pin surface for the gram stage — same scan subtree as
    * gramSets, inspectable because no InMemoryRelation hides it.
    */
  private[queries] def containerGrams(docs: DataFrame,
      container: String): DataFrame =
    graft.profile.Profiler.spread(docs.sparkSession, docs)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(TrainingOps.ShingleTransformSql))
      .select(col(container).as("cid"), explode(col("shingles")).as("str"))
      .select(col("cid"), xxhash64(col("str")).as("s"))
      .distinct()

  /** Exact all-pairs container similarity over the DF-capped gram sets:
    * one row per container pair sharing ≥ 1 gram, with intersection /
    * union sizes, Jaccard, containment, and the two flags. Pairs sharing
    * nothing are absent by construction (an all-pairs zero matrix is
    * quadratic noise at any real container count).
    *
    * This is the exact baseline the MinHash path approximates — the q15
    * role. The sizes join carries #containers rows and is broadcast by
    * default; at ≥10⁷ containers pass `broadcastSizes = false` and the
    * join shuffles on the container key instead (the r5-ADVICE size-
    * switch discipline: an explicit hint must not outlive its regime).
    */
  def containerSimilarity(docs: DataFrame, container: String = "source",
      dfCap: Int = ContainerDfCap,
      broadcastSizes: Boolean = true): DataFrame =
    containerSimilarityUnsorted(docs, container, dfCap, broadcastSizes)
      .orderBy(col("src_a"), col("src_b"))

  /** [[containerSimilarity]] without the gate-output global sort —
    * downstream consumers (q60's component fold, any threshold filter)
    * are order-insensitive, and at real container counts the pair set
    * is the largest intermediate, so the sort exchange is pure waste
    * outside the gate.
    */
  private[queries] def containerSimilarityUnsorted(docs: DataFrame,
      container: String, dfCap: Int,
      broadcastSizes: Boolean): DataFrame = {
    // ONE corpus-mass shuffle (r7, guide §2.4): gramSets' groupBy(s) +
    // collect_set subsumes the old three full passes over the gram index
    // — the (cid, s) distinct, the hot-df aggregate and the pair-stage
    // collect_set were all keyed by s or (cid, s) and each shuffled the
    // whole index. Sizes and pairs now derive from the CACHED per-gram
    // frame (one row per distinct gram), which is strictly smaller.
    val gs = gramSets(docs, container, dfCap)
    val sizes = gs.select(explode(col("cs")).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    val hinted = if (broadcastSizes) broadcast(sizes) else sizes
    // group-then-emit-pairs, NOT a self-join: each gram's (DF-cap-
    // bounded, ≤ dfCap) container set emits its pairs map-side from the
    // sorted array — the self-join formulation shuffles the gram index
    // TWICE for the same pair mass (PairProbe A/B on the fork-bench
    // corpus: 2.41 s vs 1.93 s warm, ~1.3× — identical 492,509 pair
    // rows both ways)
    val inter = gs
      .filter(size(col("cs")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(cs)-1), " +
          "i -> transform(sequence(i+1, size(cs)), " +
          "j -> struct(cs[i-1] AS src_a, cs[j-1] AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(hinted.select(col("cid").as("src_a"), col("n").as("na")), "src_a")
      .join(hinted.select(col("cid").as("src_b"), col("n").as("nb")), "src_b")
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("na"), col("nb")))
      .withColumn("near_dup", col("n_inter") * NearDupDen >= col("n_union"))
      .withColumn("fork_like",
        col("n_inter") * ForkDen >= least(col("na"), col("nb")))
      .select(col("src_a"), col("src_b"), col("n_inter"), col("na"),
        col("nb"), col("n_union"), col("jaccard"), col("containment"),
        col("near_dup"), col("fork_like"))
  }

  /** MinHash+LSH container pairs at `threshold` — the production path.
    * Signatures ride the SAME banding derivation as document MinHash
    * ([[TrainingOps.minhashBanding]]: miss ≤ targetMiss at the
    * threshold), signed per container with one groupBy over the gram
    * stream, banded, bucket-joined, then EXACT-verified on the gram sets
    * of candidate containers only — so the output equals
    * [[containerSimilarity]] restricted to jaccard ≥ threshold, up to
    * banding-miss probability (ContainerOpsSpec asserts the equality).
    *
    * The verify stage semi-filters the gram index to candidate
    * containers first (candidates are few by construction — that is the
    * point of banding), so verify cost is proportional to candidate
    * content, never corpus content.
    */
  /** The DF-capped PER-GRAM container sets — (s, cs) with cs the sorted
    * distinct containers holding gram s, grams past `dfCap` containers
    * dropped. ONE aggregation keyed by s computes the distinct, the
    * df cap (`size(cs)`) and the pair-stage container sets together
    * (r7; the old pipeline shuffled the full gram index three times:
    * (cid, s) distinct → hot-df groupBy(s) → anti-join → pair-stage
    * collect_set). collect_set partial-aggregates map-side, so shuffle
    * bytes stay at the per-partition-distinct level the old distinct()
    * paid. CACHED — feeds sizes, pairs and the MinHash path; released
    * by the harness clearCache between queries (shingle-family
    * contract).
    */
  private[graft] def gramSets(docs: DataFrame, container: String,
      dfCap: Int): DataFrame = {
    // cache the shingle-ARRAY stage before the explode (the house
    // shingle rule, r7 — it was missing at container granularity): an
    // explode whose child is the uncached interpreted-HOF generator
    // costs ~15× the array materialization itself (sf0.1: 7.5 s
    // explode-over-generator vs 0.46 s arrays + cheap explode-from-cache;
    // OPTIMIZATION_r07.md, "q56 / q60"). Both caches are released by the
    // harness clearCache.
    val sets = graft.profile.Profiler.spread(docs.sparkSession, docs)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(TrainingOps.ShingleTransformSql))
      .select(col(container).as("cid"), col("shingles"))
      .cache()
    sets.select(col("cid"), explode(col("shingles")).as("str"))
      .select(col("cid"), xxhash64(col("str")).as("s"))
      .groupBy(col("s")).agg(sort_array(collect_set(col("cid"))).as("cs"))
      .filter(size(col("cs")) <= dfCap)
      .cache()
  }

  /** The DF-capped gram index as (cid, s) rows — the MinHash path's
    * input shape, derived from [[gramSets]] (identical rows to the old
    * distinct + anti-join pipeline; the explode of the cached per-gram
    * frame replaces two more full shuffles).
    */
  private[graft] def cappedGrams(docs: DataFrame, container: String,
      dfCap: Int): DataFrame =
    gramSets(docs, container, dfCap)
      .select(explode(col("cs")).as("cid"), col("s"))

  /** Banded-bucket diagnostic mirroring [[containerMinhashPairs]]'s
    * signature/banding stages EXACTLY (the
    * [[TrainingOps.minhashBandBuckets]] pattern): (cid, band, bh) rows,
    * so benches can compute candidate-join mass from bucket occupancies
    * ([[TrainingOps.occupancyMass]]) without materializing the join.
    */
  def containerBandBuckets(docs: DataFrame, container: String = "source",
      threshold: Double = 0.05, targetMiss: Double = 1e-9,
      dfCap: Int = ContainerDfCap): DataFrame = {
    val (r, b) = TrainingOps.minhashBanding(threshold, targetMiss)
    TrainingOps.bandedSignature(
      cappedGrams(docs, container, dfCap).withColumnRenamed("cid", "doc_id"),
      r, b)._2.withColumnRenamed("doc_id", "cid")
  }

  def containerMinhashPairs(docs: DataFrame, container: String = "source",
      threshold: Double = 0.05, targetMiss: Double = 1e-9,
      dfCap: Int = ContainerDfCap,
      broadcastCandidates: Boolean = true): DataFrame = {
    val (r, b) = TrainingOps.minhashBanding(threshold, targetMiss)
    val grams = cappedGrams(docs, container, dfCap)
    val (_, buckets) = TrainingOps.bandedSignature(
      grams.withColumnRenamed("cid", "doc_id"), r, b)
    // cand/cgrams stay cached across the verify joins; released by the
    // harness clearCache between queries (the shingle-family contract)
    val cand = TrainingOps.bucketSelfJoin(buckets, Seq("band", "bh"),
      ("doc_id", "src_a", "src_b")).cache()
    val candIds = cand.select(col("src_a").as("cid"))
      .union(cand.select(col("src_b").as("cid"))).distinct()
    // candidates are few by construction (that is the point of banding),
    // so the semi-filter and sizes joins broadcast by default — but an
    // explicit hint must not outlive its regime (the r5 size-switch
    // discipline): on a corpus where banding yields millions of
    // candidate containers, pass broadcastCandidates = false and these
    // joins shuffle on the container key instead
    def maybe(df: DataFrame): DataFrame =
      if (broadcastCandidates) broadcast(df) else df
    val cgrams = grams.join(maybe(candIds), Seq("cid")).cache()
    val sizes = cgrams.groupBy(col("cid")).agg(count(lit(1)).as("n"))
    val inter = cgrams.as("a").join(cgrams.as("b"),
        col("a.s") === col("b.s") && col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("src_a"), col("b.cid").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    cand.join(inter, Seq("src_a", "src_b")) // candidates sharing ≥1 gram
      .join(maybe(sizes.select(col("cid").as("src_a"), col("n").as("na"))),
        "src_a")
      .join(maybe(sizes.select(col("cid").as("src_b"), col("n").as("nb"))),
        "src_b")
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= threshold)
      .select(col("src_a"), col("src_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Container dedup clusters + canonical keep-list — q46's component
    * machinery composed over container-similarity pairs (the star
    * alternation is id-type-agnostic: greatest/least/min order strings
    * as well as longs). The canonical rule differs from the doc-level
    * one on purpose: a fork cluster keeps its LARGEST container (most
    * docs — the likeliest upstream), tie-broken by name, where doc
    * clusters keep the min id. `pairs` must carry (src_a, src_b); the
    * universe and per-container doc counts come from `docs`.
    *
    * Scale: one count-aggregate over the corpus for n_docs (#containers
    * output rows), the O(log² n)-round component loop over the pair set
    * (pairs ≪ containers by construction of the similarity threshold),
    * and a per-component window over #containers rows. The corpus text
    * is never touched here — pair generation owns that cost.
    */
  def containerClusters(docs: DataFrame, pairs: DataFrame,
      container: String = "source"): DataFrame = {
    val spark = docs.sparkSession
    val cc = DedupClusters.connectedComponents(spark,
      pairs.select(col("src_a"), col("src_b")))
    val universe = docs.groupBy(col(container).as("cid"))
      .agg(count(lit(1)).as("n_docs"))
    val full = universe
      .join(cc.withColumnRenamed("doc_id", "cid"), Seq("cid"), "left")
      .withColumn("component", coalesce(col("component"), col("cid")))
    // cluster size and the keep-rank share ONE component exchange as two
    // windows over the same partitioning, replacing the old groupBy +
    // join-back pair (r7, guide §2.4); values identical
    val wSz = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("n_docs").desc, col("cid").asc)
    full.withColumn("cluster_size", count(lit(1)).over(wSz))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("cid").as(container), col("component"),
        col("cluster_size"), col("n_docs"), col("keep"))
      .orderBy(col(container))
  }

  /** q60 — fork clusters over the q56 pair set at the mirror threshold
    * (near_dup: J ≥ 1/20): every source with its component (= min
    * member name), cluster size, doc count, and the keep-the-largest
    * verdict. The oracle folds the identical pair query through a
    * recursive-CTE closure and replays the ranking window.
    */
  def q60ForkClusters(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = containerSimilarityUnsorted(docs, "source",
      ContainerDfCap, broadcastSizes = true).filter(col("near_dup"))
    containerClusters(docs, pairs)
  }

  /** q56 — the 20-source similarity matrix over `documents`: every
    * source pair sharing at least one 3-gram, with exact intersection /
    * union / Jaccard / containment and the mirror/fork flags. The oracle
    * replays gram sets, the pair join and every derived column in SQL.
    */
  def q56SourceSimilarity(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    containerSimilarity(
      spark.read.parquet(s"$dir/documents.parquet"), "source")
}
