package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents`/`embeddings`:
  * deduplication (exact→q08, n-gram Jaccard, MinHash+LSH, SimHash),
  * similarity search (brute-force cosine top-k baseline, LSH-bucketed ANN
  * scale path), and quality scoring. These are the ops a 100 TB corpus
  * pipeline runs between ingest and training.
  *
  * Oracle discipline: queries with a DuckDB oracle emit only exact integers
  * (or doubles derived from one division of exact integers) and ranked IDs
  * — never accumulated floats, whose rounding differs across engines.
  */
object TrainingOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Document-frequency cap on shingles: a shingle present in more than
    * this many documents carries no near-dup signal (boilerplate headers,
    * license blurbs) but generates O(df²) candidate rows in the inverted-
    * index self-join — the one quadratic hot key in the dedup family at
    * 100 TB. Capped shingles are dropped from the shingle SETS (not just
    * the index), so the Jaccard metric stays well-defined and identical
    * between the index path (q15) and the banded path (q16). Inactive at
    * gate scale (sf0.01 has 500 docs < 1000), proven by DedupScaleSpec.
    */
  val ShingleDfCap = 1000

  /** THE word-3-gram transform over a `toks` array column — the single
    * shingle definition every gram consumer shares (doc-level q15/q16/
    * q43/q46/q49, container-level q56/q60). One definition so a change
    * here cannot silently desynchronize the dedup families from each
    * other or from their oracles. 0-based `toks[i]` indexing.
    */
  private[queries] val ShingleTransformSql: String =
    "array_distinct(transform(sequence(1, size(toks)-2), " +
      "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"

  /** Distinct 3-word shingles per doc. Docs with <3 tokens have no
    * shingles and drop out, same as the oracle's `WHERE len(t) >= 3`.
    */
  private[queries] def shingleSets(docs: DataFrame): DataFrame =
    // Parallelism guard (Profiler.spread's contract): the shingle
    // transform + array_distinct are INTERPRETED higher-order functions
    // (~25 µs/gram), so a small-but-dense input (one parquet file ≪
    // maxPartitionBytes) would run the whole generator on ONE task —
    // measured 6.7 s single-task vs ~1 s spread at sf0.1 (BENCH.md, "The
    // q49 single-task incident"). At real scale the input already has
    // ≥ cores partitions → no-op.
    graft.profile.Profiler.spread(docs.sparkSession, docs)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(ShingleTransformSql))
      .select(col("doc_id"), col("shingles"))

  /** Exploded distinct (doc_id, shingle) pairs with hot shingles
    * (df > dfCap) removed via a broadcast anti-join. The hot set is small
    * by construction (Zipf head; ≤ total-occurrences / dfCap entries for
    * a pathological corpus), so it broadcasts; the anti-join keeps the
    * big side shuffle-free.
    */
  private[queries] def shingleTokens(sets: DataFrame, dfCap: Int): DataFrame =
    shingleTokensFrozen(sets, shingleHot(sets, dfCap))

  /** The hot-shingle set of `sets` at `dfCap`: xxhash64 shingle tokens
    * whose document frequency exceeds the cap. Small by construction
    * (Zipf head; ≤ total-occurrences / dfCap entries even adversarially).
    * [[graft.queries.IncrementalDedup]] persists this frame with the
    * signature catalog so every delta batch is capped by the SAME frozen
    * set as the seed corpus (r5 ADVICE: per-batch caps silently diverge
    * from full recompute when a shingle is hot in one split only).
    */
  private[queries] def shingleHot(sets: DataFrame, dfCap: Int): DataFrame =
    rawTokens(sets).groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("s"))

  /** Exploded distinct (doc_id, shingle-hash) pairs with an EXPLICIT hot
    * set removed via a broadcast anti-join — the per-doc signing function
    * given a frozen cap set. The anti-join keeps the big side
    * shuffle-free.
    */
  private[queries] def shingleTokensFrozen(sets: DataFrame,
      hot: DataFrame): DataFrame =
    rawTokens(sets).join(broadcast(hot.select(col("s"))), Seq("s"), "left_anti")

  /** Uncapped (doc_id, s) token rows. Shingles ride as xxhash64 longs
    * from here on: every downstream shuffle (df-cap agg, inverted-index
    * self-join, signature agg, verify-set agg) moves 8 bytes per shingle
    * instead of a ~25-byte string — ~5× less shuffle payload on the
    * biggest dedup stage. Collision risk is |shingles|²/2⁶⁴ per doc
    * pair, far below the banding miss bounds the consumers already carry.
    */
  private[queries] def rawTokens(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("shingles")).as("str"))
      .select(col("doc_id"), xxhash64(col("str")).as("s"))

  /** q15 — exact n-gram Jaccard near-dup pairs (dedup family, the exact
    * baseline MinHash approximates). Shingle-level inverted index:
    * explode → DF-cap hot shingles ([[ShingleDfCap]]) → self-join on
    * shingle → count intersections; union from per-doc set sizes.
    * jaccard ≥ 0.5 keeps the planted near-dups.
    *
    * Scale: the shingle join shuffles on the shingle string; the DF cap
    * bounds any one key's candidate fan-out at dfCap² — at 100 TB you
    * band-limit the rest (that is exactly q16's MinHash+LSH); this exact
    * variant is the correctness oracle for it.
    */
  // r7 measurement note (kept for the record): a q56-style group-then-
  // emit reshape of THIS pipeline (groupBy(s).collect_set(doc_id) → emit
  // pairs) was tried and measured 5× SLOWER at sf0.1 (1.7 s → 9.2 s):
  // doc-level shingles have ~1 doc-set entry per key, so the object-
  // aggregation buffer per key dominates, unlike the container family
  // where 20 cids share every gram. The inverted-index self-join below
  // is the right shape when keys ≈ rows.
  def q15NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(t(spark, dir, "documents")).cache()
    // cached: feeds the sizes aggregate and both sides of the self-join
    val tok = shingleTokens(sets, ShingleDfCap).cache()
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_i"), col("n").as("na")), "doc_i")
      .join(sizes.select(col("doc_id").as("doc_j"), col("n").as("nb")), "doc_j")
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_i"), col("doc_j"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** (rows-per-band, bands) such that a pair at exactly `threshold` is
    * missed by banding with probability ≤ targetMiss — miss(t) =
    * (1 - t^r)^b — using the most selective r (largest) whose band count
    * fits the permutation budget. Larger r → fewer false candidates;
    * larger b → buys back recall.
    */
  def minhashBanding(threshold: Double, targetMiss: Double,
      maxPerms: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    (8 to 1 by -1).iterator
      .map { r =>
        val miss1 = 1.0 - math.pow(threshold, r)
        val b = math.max(1,
          math.ceil(math.log(targetMiss) / math.log(miss1)).toInt)
        (r, b)
      }
      // in Long: at low thresholds b saturates at Int.MaxValue and an Int
      // r * b wraps negative, passing the budget with an absurd band count
      .find { case (r, b) => r.toLong * b <= maxPerms }
      .getOrElse((1, maxPerms))
  }

  /** The banded-bucket stage of [[minhashLsh]] alone — (doc_id, band,
    * band_hash) rows. Diagnostic surface for scale evidence: candidate-
    * join size can be computed from bucket occupancies ([[occupancyMass]]
    * over (band, bh)) WITHOUT materialising the join, which is how
    * DedupScaleBench proves candidates stay linear in N at 10⁶ docs.
    * Signs through [[bandedSignature]], the same signer as minhashLsh.
    */
  def minhashBandBuckets(docs: DataFrame, threshold: Double,
      targetMiss: Double = 1e-9, dfCap: Int = ShingleDfCap): DataFrame = {
    val (r, b) = minhashBanding(threshold, targetMiss)
    // cache the shingle-array stage before tokenizing: the uncached
    // generator is re-derived on both sides of the hot-df anti-join
    // (measured 10×; see IncrementalDedup.signatureStages). Callers are
    // diagnostics/bench (clearCache between points), so no leak.
    bandedSignature(shingleTokens(shingleSets(docs).cache(), dfCap), r, b)._2
  }

  /** THE MinHash signer — the one place the signing formula lives: r·b
    * min-signatures `h_i = min(xxhash64(i, s))` over (doc_id, s) token
    * rows in ONE groupBy(doc_id), then b bands of r hashed to
    * `bh = xxhash64(h_{band·r}, …, h_{band·r+r−1})`. Persisted signature
    * catalogs ([[IncrementalDedup]]) depend on this staying byte-stable
    * across releases; MinhashSignerSpec pins literal rows.
    *
    * `extraAggs` ride in the same groupBy (the verify sets'
    * `collect_set(s)`), so a caller needing both pays one aggregation.
    * Returns (perDoc, buckets): perDoc = (doc_id, h0…, extraAggs…),
    * buckets = (doc_id, band, bh) derived from perDoc. A caller that
    * reads perDoc twice caches it before the first action; Spark then
    * substitutes the cached relation into `buckets` as well.
    */
  private[queries] def bandedSignature(tok: DataFrame, r: Int, b: Int,
      extraAggs: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val sigCols = (0 until r * b).map(i =>
      min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val perDoc = tok.groupBy(col("doc_id"))
      .agg(sigCols.head, (sigCols.tail ++ extraAggs): _*)
    val bandCols = (0 until b).map { band =>
      struct(lit(band).as("band"),
        xxhash64((0 until r).map(row => col(s"h${band * r + row}")): _*)
          .as("bh"))
    }
    val buckets = perDoc
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
    (perDoc, buckets)
  }

  /** THE bucketed candidate stage of the similarity family (q16, q17,
    * q28, container MinHash): self-join `buckets` on its `keys` columns,
    * keep `a.id < b.id`, and emit each co-bucketed pair once (the
    * `distinct` removes the copies of a pair that collides in several
    * bands or tables). `id` = (id column, left name, right name); `carry`
    * names one more per-row column to emit for both sides, in the same
    * (column, left, right) form.
    */
  private[graft] def bucketSelfJoin(buckets: DataFrame, keys: Seq[String],
      id: (String, String, String),
      carry: Option[(String, String, String)] = None): DataFrame = {
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col(s"a.${id._1}") < col(s"b.${id._1}")
    val out = (id +: carry.toSeq).flatMap { case (c, left, right) =>
      Seq(col(s"a.$c").as(left), col(s"b.$c").as(right))
    }
    buckets.as("a").join(buckets.as("b"), on).select(out: _*).distinct()
  }

  /** Candidate-join mass of a bucket surface, Σ c·(c−1)/2 over the
    * occupancy c of each `keys` bucket: the row count the self-join
    * produces before its `distinct`, computed without materialising it.
    */
  def occupancyMass(buckets: DataFrame, keys: String*): Long =
    buckets.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
      .head().getLong(0) / 2

  /** MinHash + LSH near-dup pairs at `threshold`, verified exact.
    *
    * Pipeline: shingle (DF-capped) → r·b xxhash64 min-signatures (ONE
    * groupBy shuffle, partial-aggregated map-side) → b bands of r →
    * self-join on (band, band_hash) for candidates → exact Jaccard
    * verify on the candidate set only, keep ≥ threshold. Banding is
    * derived from (threshold, targetMiss) by [[minhashBanding]], so the
    * output pair set equals the exact q15-style scan at the same
    * threshold up to probability ≤ targetMiss per true pair — which is
    * what lets the driver oracle it with exact SQL.
    *
    * Scale: the candidate join touches only banded buckets — the 100 TB
    * path — while the exact verify join is proportional to candidates,
    * not pairs; the DF cap bounds hot-shingle fan-out before banding.
    */
  def minhashLsh(spark: SparkSession, docs: DataFrame, threshold: Double,
      targetMiss: Double = 1e-9, dfCap: Int = ShingleDfCap): DataFrame = {
    val (r, b) = minhashBanding(threshold, targetMiss)
    val sets = shingleSets(docs).cache()
    // r7: ONE groupBy(doc_id) computes the r·b min-signatures AND the
    // verify sets together — they were two separate full-mass
    // aggregations over the cached token frame. Values identical: same
    // tokens, same aggregates.
    val (perDoc, buckets) = bandedSignature(shingleTokens(sets, dfCap), r, b,
      Seq(collect_set(col("s")).as("shingles")))
    perDoc.cache()
    val candidates =
      bucketSelfJoin(buckets, Seq("band", "bh"), ("doc_id", "doc_i", "doc_j"))
    // exact verify on candidates only, over the same DF-capped sets
    val fsets = perDoc.select(col("doc_id"), col("shingles"))
    candidates
      .join(fsets.select(col("doc_id").as("doc_i"), col("shingles").as("sa")), "doc_i")
      .join(fsets.select(col("doc_id").as("doc_j"), col("shingles").as("sb")), "doc_j")
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("n_union",
        size(col("sa")).cast("long") + size(col("sb")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_i"), col("doc_j"), col("n_inter"), col("n_union"),
        col("jaccard"))
  }

  /** q16 — MinHash+LSH near-dups at jaccard ≥ 0.9 (the web-dedup
    * operating point). Banding derived for miss ≤ 1e-9 at 0.9 → (3, 16):
    * a true ≥0.9 pair escapes with p = (1-0.9³)¹⁶ ≈ 8.6e-10, so the
    * output provably equals the exact inverted-index scan restricted to
    * ≥0.9 — the DuckDB oracle recomputes exactly that. DedupSpec
    * additionally asserts set-equality vs q15 at both 0.5 and 0.9.
    */
  def q16MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(spark, t(spark, dir, "documents"), 0.9)
      .orderBy(col("doc_i"), col("doc_j"))

  /** Derived SimHash banding (the Manku/Jain/Das Sarma WWW'07 block-
    * permutation scheme, re-expressed over contiguous blocks): split the
    * 64-bit simhash into `b` blocks and key each of C(b, b−h) tables on
    * the exact values of a distinct (b−h)-block combination. A pair
    * within Hamming distance h differs in at most h blocks, so at least
    * one combination avoids every differing bit (pigeonhole) — the
    * candidate stage stays COMPLETE for Hamming ≤ h at EVERY b ≥ h+1,
    * while the key widens with b: random co-keyed pairs per table fall
    * as 2^−keyWidth. `simhashBlocks` picks the smallest b whose expected
    * random candidates stay linear in n (≤ perDocCap per doc):
    * h=3 → b=4 (4 tables × 16-bit keys) through n≈2.6e5 — the exact
    * legacy 4×16 banding — then b=5 (10 × ≥25-bit) to n≈5e7, b=6
    * (20 × ≥31-bit) to n≈1.7e9, … b=10 (120 × ≥43-bit) past 10¹²,
    * trading a slowly-growing table count for collision mass that no
    * longer scales with n². This is the same derive-from-N discipline as
    * [[minhashBanding]]/[[lshParams]]/[[ivfParams]].
    */
  def simhashBlocks(n: Long, maxHamming: Int = 3,
      perDocCap: Double = 8.0): Int = {
    val h = maxHamming
    (h + 1 to 32).find { b =>
      val k = b - h
      val minKeyWidth = simhashBlockWidths(b).sorted.take(k).sum
      val tables = (BigInt(1) to BigInt(k)).foldLeft(BigInt(1)) { (acc, i) =>
        acc * (b - k + i) / i
      }.toDouble
      tables * (n.toDouble / 2.0) * math.pow(2.0, -minKeyWidth) <= perDocCap
    }.getOrElse(32)
  }

  /** Widths of the `b` contiguous simhash blocks (sums to 64; the
    * remainder bits widen the low blocks first).
    */
  def simhashBlockWidths(b: Int): Seq[Int] = {
    val q = 64 / b
    val r = 64 % b
    (0 until b).map(i => if (i < r) q + 1 else q)
  }

  /** The (table, key) rows for derived-banding SimHash: one row per
    * (doc, block-combination), key = concatenated exact block values.
    * Diagnostic surface mirroring [[minhashBandBuckets]] — candidate-join
    * input size is [[occupancyMass]] over (table, key), which is
    * how DedupScaleBench measures the collision curve without
    * materialising the join. Input must carry (doc_id, simhash).
    */
  def simhashBandBuckets(hashed: DataFrame, b: Int,
      maxHamming: Int = 3): DataFrame = {
    val widths = simhashBlockWidths(b)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockVal(i: Int): Column =
      shiftright(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))
    val combos = (0 until b).combinations(b - maxHamming).toSeq
    val tabCols = combos.zipWithIndex.map { case (combo, t) =>
      struct(lit(t).as("table"),
        combo.foldLeft(lit(0L): Column) { (acc, bi) =>
          shiftleft(acc, widths(bi)).bitwiseOR(blockVal(bi))
        }.as("key"))
    }
    hashed.select(col("doc_id"), col("simhash"),
        explode(array(tabCols: _*)).as("tk"))
      .select(col("doc_id"), col("simhash"),
        col("tk.table").as("table"), col("tk.key").as("key"))
  }

  /** SimHash near-dup pairs with banding derived from corpus size:
    * deterministically {pairs : hamming(simhash_i, simhash_j) ≤
    * maxHamming} for every n, because the block-combination candidate
    * stage is complete at any derived b (scaladoc at [[simhashBlocks]])
    * and the exact Hamming filter runs on candidates. The join key is
    * (table, key) — bucketed, never all-pairs; the verify is one XOR +
    * popcount per candidate, no payload shuffle.
    */
  def simhashPairs(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    // `hashed` stays cached past this call (same contract as
    // minhashBandBuckets): the count() that derives b forces it, and the
    // returned plan reads it on BOTH sides of the candidate self-join —
    // unpersisting before materialization would re-run the MD5 simhash
    // map twice. Harness-level spark.catalog.clearCache() between bench
    // attempts releases it.
    val hashed = simhashes(docs).cache()
    simhashBandedPairs(hashed,
      simhashBlocks(hashed.count(), maxHamming), maxHamming)
  }

  /** The hashing stage of [[simhashPairs]]: (doc_id, simhash) over the
    * whitespace tokens of `text`. Uncached; callers that read it twice
    * cache it.
    */
  def simhashes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // (r7: spread tried before the map, net-slower at sf0.1 — the MD5
    // pass is short enough there that the exchange cost dominates)
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) => (id, TrainingOps.simhash64(toks)) }
      .toDF("doc_id", "simhash")
  }

  /** The pair stage of [[simhashPairs]] over `hashed` (doc_id, simhash)
    * at `b` blocks: (table, key) candidates, then the exact Hamming
    * filter. Output (doc_i, doc_j, hamming).
    */
  def simhashBandedPairs(hashed: DataFrame, b: Int,
      maxHamming: Int): DataFrame =
    bucketSelfJoin(simhashBandBuckets(hashed, b, maxHamming),
        Seq("table", "key"), ("doc_id", "doc_i", "doc_j"),
        carry = Some(("simhash", "sh_i", "sh_j")))
      .withColumn("hamming", bit_count(col("sh_i").bitwiseXOR(col("sh_j"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_i"), col("doc_j"), col("hamming"))

  /** q17 — SimHash near-dup pairs, EXACT by construction. 64-bit simhash
    * over token hashes (per-bit majority vote, term-frequency weighted),
    * candidates via the derived block-combination banding
    * ([[simhashBlocks]]; at gate scale n=500 → the legacy 4×16-bit
    * plan): any pair within Hamming distance 3 shares ≥1 exact table key
    * (pigeonhole) — the candidate stage is COMPLETE for Hamming ≤ 3, and
    * after the true Hamming filter the output is deterministically
    * {pairs : hamming ≤ 3} independent of the derived b, which the
    * DuckDB oracle recomputes from scratch (token hash = lower 64 bits
    * of MD5, chosen precisely because both engines compute it
    * bit-identically — DuckDB `md5_number_lower` = little-endian of MD5
    * digest bytes 8..15).
    *
    * The bit-vote accumulation is a fold over 64 counters — genuinely
    * imperative per-row state, so it runs in one typed map (the documented
    * mapPartitions-tier exception, SURVEY.md §2.9), everything else stays
    * Catalyst.
    */
  def q17Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, t(spark, dir, "documents"), maxHamming = 3)
      .orderBy(col("doc_i"), col("doc_j"))

  /** Lower 64 bits of MD5(s) — little-endian over digest bytes 8..15,
    * matching DuckDB's `md5_number_lower` so the simhash oracle can
    * recompute token hashes bit-identically.
    */
  def md5Lower64(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xFFL); i -= 1 }
    h
  }

  /** 64-bit SimHash: per-bit majority over token hashes (tf-weighted by
    * repetition). Deterministic: lower 64 bits of MD5 of the token.
    */
  def simhash64(tokens: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    tokens.foreach { tk =>
      val h = md5Lower64(md, tk)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Cosine similarity of two double-array columns as a pure Column
    * expression (stays in whole-stage codegen; no UDF). r7: the dot
    * products are [[graft.functions.VecMath.vec_dot]] — a codegen static
    * call replacing the interpreted zip_with+aggregate HOF chain, with
    * the identical ascending-index fold order so every value is
    * bit-identical (guide §4.1; q28's candidate verify measured ~20 µs
    * per pair interpreted vs ~0.1 µs compiled).
    */
  def cosineCol(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = graft.functions.VecMath.vec_dot(x, y)
    def norm(x: Column) = sqrt(dot(x, x))
    dot(a, b) / (norm(a) * norm(b))
  }

  val TopK = 5
  val NQueries = 20

  /** q18 — brute-force cosine top-k over the embedding column: the exact
    * ANN baseline. Query side (20 vectors) broadcasts against the full
    * table; ranking emits only (query_id, neighbor_id, rank) — adjacent
    * cosine gaps in this data are ≥2e-5, six orders above double rounding,
    * so ranks are engine-portable where raw floats are not.
    *
    * Scale: O(Q·N) — correct but linear; q19 is the bucketed path.
    */
  def q18CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val (emb, queries) = annNaturalUniverse(spark, dir)
    rankTopK(emb.join(broadcast(queries), col("vec_id") =!= col("query_id")))
  }

  /** The natural-corpus ANN input over `embeddings`: every vector as the
    * universe (vec_id, v), the first [[NQueries]] as queries (query_id,
    * qv). q18 scans it exactly; the recall specs feed it to each
    * approximate `*TopK` and compare with q18.
    */
  def annNaturalUniverse(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    (emb, emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
  }

  /** The exact tail of every top-k path: cosine of each (qv, v) row of
    * `scored`, ranked per query by (cos desc, vec_id), cut at [[TopK]].
    * Output (query_id, neighbor_id, rank), ordered.
    */
  private def rankTopK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("cos", cosineCol(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact rerank of candidate pairs (query_id, vec_id) against the true
    * vectors: the approximate paths' shared [[rankTopK]] input.
    */
  private def rerank(cand: DataFrame, queries: DataFrame,
      uni: DataFrame): DataFrame =
    rankTopK(cand
      .join(queries.select(col("query_id"), col("qv")), "query_id")
      .join(uni.select(col("vec_id"), col("v")), "vec_id"))

  private val LshSeed = 42

  /** Hard ceiling on hyperplane-LSH key width: buckets are Long-keyed,
    * and 48 bits keeps bucket occupancy ≈ targetBucket out to
    * N ≈ 512·2⁴⁸ ≈ 1.4e17 vectors — far past any corpus this engine
    * will meet (10¹² docs is the design point). Until r6 this ceiling
    * sat at 16 (Int buckets), which past N ≈ 34M silently returned the
    * candidate join to ~N²/2¹⁶-per-table mass — the r5-flagged
    * scale-killer, same defect class as the fixed SimHash banding r5
    * itself fixed.
    */
  val LshMaxBits = 48

  /** Derive (tables, bits) from corpus size and similarity threshold:
    * bits grow with log2(N / targetBucket) so bucket occupancy — and with
    * it the O(Σ bucketSize²) candidate join — stays bounded as N grows;
    * tables then buy back recall to `targetMiss` at the threshold, using
    * the random-hyperplane collision probability p = 1 - acos(t)/π.
    * Regime table at threshold 0.95, targetBucket 512 (tables grow as
    * (N/targetBucket)^log2(1/p) ≈ N^0.154 — the price of holding BOTH
    * recall and occupancy as N grows):
    *   N ≤ 8k → (14, 4); 1M → (38, 11); 34M → (78, 17) [past the old
    *   Int-bucket cap]; 1e9 → (123, 21); 1e12 → (369, 31).
    */
  def lshParams(n: Long, threshold: Double, targetMiss: Double = 1e-6,
      targetBucket: Int = 512): (Int, Int) = {
    val bits = math.max(4, math.min(LshMaxBits,
      math.ceil(math.log(math.max(n, 1).toDouble / targetBucket) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.min(threshold, 1.0)) / math.Pi
    val perTable = math.pow(p, bits)
    val tables = math.max(1,
      math.ceil(math.log(targetMiss) / math.log(1.0 - perTable)).toInt)
    (tables, bits)
  }

  /** ANN-query-path sizing (r5 verdict item 3): same derivation as
    * [[lshParams]], but the "threshold" is a DESIGN similarity — the
    * cosine at which the table count must hold per-neighbour miss ≤
    * targetMiss — rather than a user-supplied dedup threshold (top-k has
    * none). 0.9 is the near-neighbour operating point this engine's ANN
    * contracts quote (q19's planted companions sit ≥ 0.9987, where the
    * derived shape is ~exhaustive: miss ≈ (1−0.984^bits)^tables). At the
    * gate floor (bits = 4) this yields 18 tables — one more than the
    * legacy fixed 16×4 — and recall on uniform-random corpora (true
    * neighbours near cosine 0.4, LSH's worst case) stays ≥ 0.95/pair:
    * (1−0.631⁴)¹⁸ ≈ 0.045 miss. Candidates per query stay ≈ tables ×
    * targetBucket — sublinear in N (tables ~ N^0.22 at designCos 0.9)
    * instead of the old fixed shape's N/2¹⁶ blow-up past 34M vectors.
    */
  def lshAnnParams(n: Long, designCos: Double = 0.9,
      targetMiss: Double = 1e-6): (Int, Int) =
    lshParams(n, designCos, targetMiss)

  /** Deterministic random hyperplanes for one table: seeded per (table,
    * bits) so the same table index yields the same planes on driver and
    * executors, and growing the table count never reshuffles existing
    * tables.
    */
  def planesFor(table: Int, bits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(
      LshSeed.toLong * 0x9E3779B9L + table.toLong * 7919L + bits)
    Array.fill(bits)(Array.fill(64)(rnd.nextGaussian()))
  }

  def allPlanes(tables: Int, bits: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables)(planesFor(_, bits))

  /** Long-keyed bucket (up to [[LshMaxBits]] sign bits): Int keys capped
    * the derivation at 16 bits, which is exactly the occupancy blow-up
    * lshParams exists to prevent.
    */
  def lshBucket(v: Seq[Double], planes: Array[Array[Double]]): Long = {
    var bucket = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, p.length)
      while (i < n) { d += v(i) * p(i); i += 1 }
      if (d >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** LSH-bucketed approximate top-k cosine neighbours of `queries`
    * (query_id, qv) within `uni` (vec_id, v): candidates are pairs
    * sharing a bucket in any table; exact cosine re-rank on candidates.
    * Same output shape as q18 so recall is directly measurable.
    *
    * Scale: replaces q18's O(Q·N) scan with per-bucket joins — the
    * shuffle key is (table, bucket), load bounded by bucket occupancy.
    * (tables, bits) are DERIVED from the universe size by
    * [[lshAnnParams]] (r5 verdict item 3: the fixed 16×4 shape made
    * candidates-per-query ≈ N past 34M vectors); `nHint` passes a known
    * corpus rowcount (coarse is fine — it only steers log2 sizing),
    * None falls back to one count() over the cached universe.
    */
  def lshAnnTopK(spark: SparkSession, uniIn: DataFrame,
      queries: DataFrame, nHint: Option[Long] = None,
      designCos: Double = 0.9, targetMiss: Double = 1e-6): DataFrame = {
    val uni = uniIn.cache() // reused: sizing count + bucketing + verify join
    val (tables, bits) =
      lshAnnParams(nHint.getOrElse(uni.count()), designCos, targetMiss)
    rerank(lshAnnCandidates(uni, queries, allPlanes(tables, bits)),
      queries, uni)
  }

  /** The candidate stage of [[lshAnnTopK]]: the distinct (query_id,
    * vec_id) pairs, self excluded, whose vectors share a bucket in any
    * table of `planes`. Queries are few, so their buckets broadcast.
    */
  def lshAnnCandidates(uni: DataFrame, queries: DataFrame,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    import uni.sparkSession.implicits._
    val buckets = lshBuckets(
      uni.select(col("vec_id"), col("v")).as[(Long, Seq[Double])],
      planes, "vec_id")
    val qb = lshBuckets(
      queries.select(col("query_id"), col("qv")).as[(Long, Seq[Double])],
      planes, "query_id")
    broadcast(qb).join(buckets, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
  }

  /** THE LSH bucketer: one (id, tbl, bucket) row per vector and table of
    * `planes`, the id column named `idCol`.
    */
  def lshBuckets(ds: Dataset[(Long, Seq[Double])],
      planes: Array[Array[Array[Double]]], idCol: String): DataFrame = {
    import ds.sparkSession.implicits._
    ds.flatMap { case (id, v) =>
      planes.indices.iterator.map(t => (id, t, lshBucket(v, planes(t))))
    }.toDF(idCol, "tbl", "bucket")
  }

  val AnnCompanions = 5

  /** The planted ANN gate universe (q19/q31): the first 500 vectors plus,
    * for each of the 20 query vectors, 5 companions at vec_id =
    * q·10 + k + 100000 with v' = v + 0.01·(k+1)·rot(v) (rot = cyclic
    * shift by one) — cosines ≥ 0.9987, pairwise rank gaps ≥ 1.4e-4. Each
    * query's exact top-5 IS its companion set (everything else sits at
    * cosine ≈ 0.4). Returns (universe(vec_id, v), queries(query_id, qv)).
    */
  def annPlantedUniverse(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val base = annNaturalUniverse(spark, dir)._1.filter(col("vec_id") < 500)
    val q = base.filter(col("vec_id") < NQueries)
    val comps = q
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(AnnCompanions - 1))).as("k"))
      .select((col("vec_id") * 10 + col("k") + 100000).as("vec_id"),
        expr("transform(v, (x, i) -> x + (k + 1) * CAST(0.01 AS DOUBLE) * " +
          "element_at(v, (CAST(i + 1 AS INT) % size(v)) + 1))").as("v"))
    (base.unionByName(comps),
      q.select(col("vec_id").as("query_id"), col("v").as("qv")))
  }

  /** q19 — LSH ANN E2E with a provable-recall contract (the q28 recipe)
    * over [[annPlantedUniverse]]: at the derived gate shape (18 tables ×
    * 4 bits from [[lshAnnParams]] at N=600) LSH misses a companion
    * (cosine ≥ 0.9987 → per-bit agreement 0.984) with p =
    * (1−0.984⁴)¹⁸ ≈ 3e-22, so the approximate pipeline's ranked output
    * equals the oracle's exact brute-force scan. The universe size is
    * pinned (500 base + 20×5 companions), so the gate plan never pays
    * the sizing count and stays byte-deterministic.
    */
  def q19LshAnn(spark: SparkSession, dir: String): DataFrame = {
    val (uni, queries) = annPlantedUniverse(spark, dir)
    lshAnnTopK(spark, uni, queries,
      nHint = Some(500L + NQueries.toLong * AnnCompanions))
  }

  /** Embedding-cosine near-duplicate pairs (dedup family): all pairs with
    * cosine ≥ threshold, via LSH bucketing (candidates) + exact verify.
    * (tables, bits) are derived from the corpus size and threshold by
    * [[lshParams]] — bits bound bucket occupancy as N grows, tables hold
    * the per-pair miss probability ≤ 1e-6. `nHint` is that corpus size:
    * pass the catalog rowcount when known (it only steers log2 bucket
    * sizing, so a coarse value is fine); None falls back to one count()
    * pass.
    */
  def embeddingNearDups(spark: SparkSession, emb: DataFrame,
      threshold: Double, nHint: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // cached: reused by the bucketing pass and both sides of the verify
    // join (and the sizing count when no hint is given)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .cache()
    val (tables, bits) = lshParams(nHint.getOrElse(e.count()), threshold)
    val cand = bucketSelfJoin(lshBuckets(e, allPlanes(tables, bits), "vec_id"),
      Seq("tbl", "bucket"), ("vec_id", "vec_i", "vec_j"))
    val vecs = e.toDF("vec_id", "v")
    cand
      .join(vecs.select(col("vec_id").as("vec_i"), col("v").as("va")), "vec_i")
      .join(vecs.select(col("vec_id").as("vec_j"), col("v").as("vb")), "vec_j")
      .withColumn("cos", cosineCol(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_i"), col("vec_j"), col("cos"))
  }

  /** q20 — document quality scoring (text-analysis family): token counts,
    * duplication ratio, average token length, filler-word ratio, keep
    * verdict. Exact integers and single divisions only — bit-identical to
    * the DuckDB oracle. All in whole-stage codegen over the scan.
    */
  def q20DocQuality(spark: SparkSession, dir: String): DataFrame =
    // spread (r7): array_distinct + filter HOFs per row, one row group —
    // the repetitionMetrics parallelism rule
    graft.profile.Profiler.spread(spark, t(spark, dir, "documents"))
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("dup_ratio"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          size(col("toks"))).as("avg_token_len"),
        size(expr("filter(toks, x -> x = 'the' or x = 'a')")).as("n_filler"),
        (size(col("toks")) >= 10 &&
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))) >= 0.3).as("keep"))
      .orderBy(col("doc_id"))

  /** q28 — embedding-cosine near-dup pairs E2E (dedup family): the first
    * 500 vectors plus planted duplicates (ids 0-9 re-keyed +100000 and
    * scaled ×2 — scaling preserves cosine exactly) through the
    * LSH-candidates + exact-verify pipeline. At cos ≥ 0.95 the 16×4-bit
    * LSH misses a true pair with p ≈ 4e-6, so the approximate pipeline's
    * PAIR SET equals the oracle's exact pairwise scan; only pair identity
    * is emitted (cosine floats stay engine-internal).
    */
  def q28EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 500)
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 2).as("embedding"))
    embeddingNearDups(spark, base.unionByName(planted), 0.95, Some(510L))
      .select(col("vec_i"), col("vec_j"))
      .orderBy(col("vec_i"), col("vec_j"))
  }

  // ---- IVF ANN: coarse k-means quantizer + inverted-list probing ----
  // The second scale path for similarity search (complementing q19's LSH):
  // train a small codebook on a driver-side sample (centroids are tiny and
  // broadcast — exactly the at-scale pattern), assign every vector to its
  // nearest list with one narrow map, then answer queries by probing the
  // nProbe nearest lists only. The candidate join shuffles on list_id —
  // O(N · nProbe / nLists) pairs instead of q18's O(N · nQueries).

  val IvfLists = 16
  val IvfProbe = 6
  val IvfIters = 8
  val IvfTrainCap = 4096

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  def nearestLists(v: Array[Double], cents: Array[Array[Double]],
      p: Int): Array[Int] =
    if (p == 1) {
      // hot path: one argmin pass (the per-vector assignment at scale) —
      // strict < keeps the first index on ties, matching the stable sort
      var best = 0
      var bestD = sqDist(v, cents(0))
      var c = 1
      while (c < cents.length) {
        val d = sqDist(v, cents(c))
        if (d < bestD) { best = c; bestD = d }
        c += 1
      }
      Array(best)
    } else cents.indices.sortBy(c => sqDist(v, cents(c))).take(p).toArray

  /** Rows per assign task in [[kmeansTrain]]. The chunk boundaries depend
    * on the sample order alone, and the chunk partials fold in chunk
    * order, so the thread pool's scheduling never reaches the bits.
    */
  val KmeansChunk = 1024

  /** Deterministic Lloyd's k-means over a driver-side sample (first-k
    * init; empty clusters keep their previous centroid). The assign step
    * runs on a local thread pool over fixed [[KmeansChunk]]-row chunks;
    * each chunk sums its rows in sample order from +0.0, and the chunk
    * partials fold in chunk order. The codebook (and therefore the
    * q31/q54/q55 gates) is bit-identical run to run, while √N-sized
    * codebooks (DedupScaleBench: 708 centroids × 11k samples) train in
    * seconds. The sample lives on the driver: sample × dim × 8 bytes,
    * ~33 MB at ivfParams' 65,536-sample point (N ≈ 16.8M, 64 dims).
    */
  def kmeansTrain(samples: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(samples.length >= k, s"need >= $k training vectors")
    val dim = samples.head.length
    var cents = samples.take(k).map(_.clone)
    val chunk = KmeansChunk
    val nChunks = (samples.length + chunk - 1) / chunk
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(nChunks,
        Runtime.getRuntime.availableProcessors - 1)))
    try {
      var it = 0
      while (it < iters) {
        val cur = cents
        val tasks = (0 until nChunks).map { ci =>
          pool.submit(new java.util.concurrent.Callable[
              (Array[Array[Double]], Array[Long])] {
            def call(): (Array[Array[Double]], Array[Long]) = {
              val sums = Array.fill(k)(new Array[Double](dim))
              val counts = new Array[Long](k)
              var s = ci * chunk
              val end = math.min(s + chunk, samples.length)
              while (s < end) {
                val v = samples(s)
                val c = nearestLists(v, cur, 1)(0)
                counts(c) += 1
                var i = 0
                while (i < dim) { sums(c)(i) += v(i); i += 1 }
                s += 1
              }
              (sums, counts)
            }
          })
        }
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        tasks.foreach { task => // chunk order
          val (ls, lc) = task.get()
          var c = 0
          while (c < k) {
            counts(c) += lc(c)
            var i = 0
            while (i < dim) { sums(c)(i) += ls(c)(i); i += 1 }
            c += 1
          }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c)
          else { val s = sums(c); s.map(_ / counts(c)) }
        }
        it += 1
      }
      cents
    } finally pool.shutdown()
  }

  /** A codebook's training sample: the first `cap` vectors of `uni`
    * (vec_id, v) in vec_id order, collected to the driver.
    */
  private def trainSample(spark: SparkSession, uni: DataFrame,
      cap: Int): Array[Array[Double]] = {
    import spark.implicits._
    uni.select(col("vec_id"), col("v")).sort(col("vec_id")).limit(cap)
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)
  }

  /** Derived IVF sizing for an N-vector corpus: lists ≈ √N (the standard
    * IVF operating point — probe cost N·probe/lists stays ~√N·probe per
    * query), training sample 16 vectors per centroid, probe count scaled
    * to keep ~1/16 of the lists visited. The gate constants above are the
    * small-N floor of this curve (q31 stays byte-deterministic).
    */
  def ivfParams(n: Long): (Int, Int, Int) = {
    val lists = math.max(IvfLists, math.ceil(math.sqrt(n.toDouble)).toInt)
    val probe = math.max(IvfProbe, lists / 16)
    val trainCap = math.max(IvfTrainCap, 16 * lists)
    (lists, probe, trainCap)
  }

  /** The IVF coarse stage of [[ivfAnnTopK]] and [[ivfPqAnnTopK]]: a
    * `lists`-centroid codebook on the vec_id-ordered sample, each vector's
    * nearest list (vec_id, list_id) and each query's `probe` nearest
    * lists (query_id, list_id).
    */
  private def ivfLists(spark: SparkSession, uni: DataFrame,
      queries: DataFrame, lists: Int, probe: Int,
      trainCap: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      kmeansTrain(trainSample(spark, uni, trainCap), lists, IvfIters))
    val assigned = uni.select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].map { case (id, v) =>
        (id, nearestLists(v.toArray, bc.value, 1)(0))
      }.toDF("vec_id", "list_id")
    val probes = queries.select(col("query_id"), col("qv"))
      .as[(Long, Seq[Double])].flatMap { case (id, v) =>
        nearestLists(v.toArray, bc.value, probe).iterator.map(l => (id, l))
      }.toDF("query_id", "list_id")
    (assigned, probes)
  }

  /** IVF approximate top-k cosine neighbours of `queries` (query_id, qv)
    * within `uni` (vec_id, v) — same output contract as q18/q19
    * (query_id, neighbor_id, rank). `uni` is cached: the codebook
    * sample, the assignment and the rerank all read it.
    */
  def ivfAnnTopK(spark: SparkSession, uniIn: DataFrame,
      queries: DataFrame, lists: Int = IvfLists, probe: Int = IvfProbe,
      trainCap: Int = IvfTrainCap): DataFrame = {
    val uni = uniIn.cache()
    val (assigned, probes) =
      ivfLists(spark, uni, queries, lists, probe, trainCap)
    val cand = broadcast(probes).join(assigned, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    rerank(cand, queries, uni)
  }

  /** q31 — IVF ANN E2E under the same planted-companion contract as q19:
    * each query's exact top-5 is its 5 companions (cosine ≥ 0.9987), and
    * the whole IVF path — deterministic k-means codebook (first-k init on
    * the vec_id-ordered sample), nearest-list assignment, 6-of-16-list
    * probing, exact re-rank — must reproduce it. Unlike LSH there is no
    * closed-form miss bound, but every stage is DETERMINISTIC on the gate
    * data (same sample → same codebook → same probes), so the oracle
    * match is stable run-to-run; a companion shares its query's Voronoi
    * cell at angle ≤ 0.1 rad, which the gate itself proves held.
    */
  def q31IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val (uni, queries) = annPlantedUniverse(spark, dir)
    ivfAnnTopK(spark, uni, queries)
  }

  // ---- Product-quantization ANN (the memory-compression path) ----

  /** Subspace count. dim must divide evenly; 8 subspaces of 8 dims at the
    * 64-dim gate corpus. Production: m grows with dim (e.g. 16 for 768).
    */
  val PqM = 8
  val PqIters = 8

  /** Approximate-score candidate pool per query before the exact rerank.
    * Must exceed TopK by enough margin that quantization error cannot
    * push a true neighbour out; 10× TopK is the standard operating point.
    */
  val PqPool = 50

  /** Derived centroids-per-subspace: 16 at gate N (enough training data
    * at 16 samples/centroid), growing with the corpus to the 256 ceiling
    * — the 8-bit-code boundary that makes a PQ code m BYTES. That ceiling
    * is the POINT of PQ, not a scale cap like the r5 lshParams one:
    * quantization error is bounded by centroid density per SUBSPACE
    * (fixed 8-ish dims), not by corpus size, and the rerank is exact.
    * At 10⁹ × 768-dim float64 vectors the raw corpus is ~6 TB while the
    * m=16 code table is ~16 GB — the difference between "scan SSD" and
    * "fits in cluster page cache" for every ANN query after the first.
    */
  def pqParams(n: Long): Int =
    math.min(256L, math.max(16L, n / 32)).toInt

  /** Train the m sub-codebooks: one collect of the vec_id-ordered sample
    * of 16·k vectors (≤ 4096 rows, since pqParams caps k at 256), sliced
    * per subspace on the driver, then [[kmeansTrain]] per slice. Each
    * subspace is dim/m wide, so the total training cost is ONE k-means
    * over the sample regardless of m.
    */
  def pqTrain(spark: SparkSession, uniIn: DataFrame, m: Int, k: Int,
      iters: Int = PqIters): Array[Array[Array[Double]]] = {
    val rows = trainSample(spark, uniIn, 16 * k)
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m
    (0 until m).map { j =>
      kmeansTrain(
        rows.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)),
        k, iters)
    }.toArray
  }

  /** Encode every vector as m sub-codes (argmin L2 per subspace, strict
    * `<` so ties keep the lowest centroid index — deterministic). At
    * production scale this frame is WRITTEN ONCE to parquet and scanned
    * by every subsequent query; here it feeds the scan directly.
    */
  def pqEncode(spark: SparkSession, uni: DataFrame,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebook)
    val m = codebook.length
    uni.select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val arr = v.toArray
        val sub = arr.length / m
        val codes = new Array[Int](m)
        var j = 0
        while (j < m) {
          val s = java.util.Arrays.copyOfRange(arr, j * sub, (j + 1) * sub)
          codes(j) = nearestLists(s, bc.value(j), 1)(0)
          j += 1
        }
        (id, codes.toSeq)
      }.toDF("vec_id", "codes")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** A query's PQ lookup table: lut(j)(c) = q_j · cent_jc. */
  private final case class PqLut(qid: Long, lut: Array[Array[Double]],
      qNorm: Double)

  /** Per-query lookup tables in query_id order, built on the driver
    * (queries are small by the q18/q19 contract), plus the shared
    * code-word squared norms nlut(j)(c) = |cent_jc|².
    */
  private def pqLuts(spark: SparkSession, queries: DataFrame,
      cb: Array[Array[Array[Double]]]): (Array[PqLut], Array[Array[Double]]) = {
    import spark.implicits._
    val m = cb.length
    val luts = queries.select(col("query_id"), col("qv"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map { case (qid, qv) =>
        val arr = qv.toArray
        val sub = arr.length / m
        PqLut(qid, Array.tabulate(m) { j =>
          val qj = java.util.Arrays.copyOfRange(arr, j * sub, (j + 1) * sub)
          cb(j).map(c => dot(qj, c))
        }, math.sqrt(dot(arr, arr)))
      }
    (luts, cb.map(_.map(c => dot(c, c))))
  }

  /** Approximate cosine of a query and a PQ code (-1 on a zero norm). Both
    * table sums run in fixed subspace order, so the score does not depend
    * on the partition layout.
    */
  private def pqApprox(q: PqLut, nlut: Array[Array[Double]],
      code: Array[Int]): Double = {
    var d = 0.0; var n2 = 0.0; var j = 0
    while (j < code.length) {
      d += q.lut(j)(code(j)); n2 += nlut(j)(code(j)); j += 1
    }
    if (n2 > 0 && q.qNorm > 0) d / (q.qNorm * math.sqrt(n2)) else -1.0
  }

  /** The PQ paths' tail: cut each query's (query_id, vec_id, approx)
    * candidates to the best `pool` under (approx desc, vec_id), then
    * [[rerank]] them exactly.
    */
  private def pqRerank(approx: DataFrame, pool: Int, queries: DataFrame,
      uni: DataFrame): DataFrame = {
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    rerank(approx
      .withColumn("prank", row_number().over(wPool))
      .filter(col("prank") <= pool)
      .select(col("query_id"), col("vec_id")), queries, uni)
  }

  /** PQ approximate top-k cosine neighbours — same output contract as
    * q18/q19/q31 (query_id, neighbor_id, rank). Pipeline: train m
    * sub-codebooks → encode the corpus → asymmetric-distance scan (each
    * query's dot with any code word is a PRECOMPUTED m×k lookup table,
    * so scoring a candidate is m array reads instead of dim multiplies,
    * over a corpus m·log₂k bits/vector wide instead of 64·dim) →
    * per-partition bounded top-[[PqPool]] selection (map-side top-k: the
    * only shuffle carries partitions·pool rows, never N·Q) → global pool
    * cut → EXACT cosine rerank on the fetched true vectors.
    *
    * Determinism: [[pqApprox]] is partition-layout-free; the bounded
    * heap keeps the best `pool` under the total order (approx desc,
    * vec_id asc); the global cut re-applies the same order — so the
    * candidate set, and hence the exact-reranked output, is invariant
    * to input layout (PqAnnSpec pins this).
    *
    * Caching: `uni` and the code frame stay cached for the multi-pass
    * plan (train sample, encode, rerank); like minhashBandBuckets the
    * bench/Verify harness clears cache between queries.
    */
  def pqAnnTopK(spark: SparkSession, uniIn: DataFrame, queries: DataFrame,
      m: Int = PqM, kOverride: Option[Int] = None, pool: Int = PqPool,
      nHint: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val uni = uniIn.cache()
    val n = nHint.getOrElse(uni.count())
    val k = kOverride.getOrElse(pqParams(n))
    val cb = pqTrain(spark, uni, m, k)
    val codes = pqEncode(spark, uni, cb).cache()
    val bcLut = spark.sparkContext.broadcast(pqLuts(spark, queries, cb))
    val poolN = pool

    // asymmetric-distance scan with map-side bounded top-pool selection
    val partTop = codes.as[(Long, Seq[Int])].mapPartitions { it =>
      val (qs, nl) = bcLut.value
      // worst-kept-first heaps: evict (smaller approx, larger vec_id)
      val ord = Ordering.by[(Double, Long), (Double, Long)] {
        case (a, id) => (-a, id)
      }
      val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue()(ord))
      it.foreach { case (vid, codeSeq) =>
        val code = codeSeq.toArray
        var qi = 0
        while (qi < qs.length) {
          if (vid != qs(qi).qid) {
            val approx = pqApprox(qs(qi), nl, code)
            val h = heaps(qi)
            if (h.size < poolN) h.enqueue((approx, vid))
            else {
              val (wa, wid) = h.head
              if (approx > wa || (approx == wa && vid < wid)) {
                h.dequeue(); h.enqueue((approx, vid))
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zip(qs.iterator).flatMap { case (h, q) =>
        h.iterator.map { case (a, vid) => (q.qid, vid, a) }
      }
    }.toDF("query_id", "vec_id", "approx")
    pqRerank(partTop, pool, queries, uni)
  }

  /** IVF-PQ ANN — the production composition of the two scale paths:
    * IVF pruning decides WHICH vectors to score (probe/lists of the
    * corpus), PQ codes decide how CHEAPLY to score them (m byte-reads
    * per candidate over an m-bytes/vector table), and the exact rerank
    * on the top pool restores exactness where it matters. At 10⁹
    * vectors a query touches ~probe/lists of an 8 GB code table — the
    * only ANN shape here whose per-query work AND working set both stay
    * sublinear in corpus bytes.
    *
    * Candidates = broadcast(query probes) ⋈ list-assigned codes on
    * list_id (the ivfAnnTopK join), scored with the per-query LUT in a
    * typed map (no heap needed — IVF already pruned the volume), global
    * pool cut, exact rerank. Determinism: both codebooks train on the
    * vec_id-ordered sample; [[pqApprox]] runs in fixed subspace order;
    * the pool cut uses the (approx desc, vec_id) total order.
    *
    * Caching: `uni` and the list-assigned code frame stay cached for
    * the multi-pass plan; like minhashBandBuckets the bench/Verify
    * harness clears cache between queries.
    */
  def ivfPqAnnTopK(spark: SparkSession, uniIn: DataFrame,
      queries: DataFrame, lists: Int = IvfLists, probe: Int = IvfProbe,
      trainCap: Int = IvfTrainCap, m: Int = PqM,
      kOverride: Option[Int] = None, pool: Int = PqPool,
      nHint: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val uni = uniIn.cache()
    val n = nHint.getOrElse(uni.count())
    val k = kOverride.getOrElse(pqParams(n))
    val (assigned, probes) =
      ivfLists(spark, uni, queries, lists, probe, trainCap)
    // fine (PQ) codebooks + codes, co-located with the list assignment
    val cb = pqTrain(spark, uni, m, k)
    val codes = pqEncode(spark, uni, cb).join(assigned, "vec_id").cache()
    val bcLut = spark.sparkContext.broadcast {
      val (luts, nlut) = pqLuts(spark, queries, cb)
      (luts.map(q => q.qid -> q).toMap, nlut)
    }

    val scored = broadcast(probes).join(codes, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("codes"))
      .as[(Long, Long, Seq[Int])]
      .map { case (qid, vid, code) =>
        val (qs, nl) = bcLut.value
        (qid, vid, pqApprox(qs(qid), nl, code.toArray))
      }.toDF("query_id", "vec_id", "approx")
    pqRerank(scored, pool, queries, uni)
  }

  /** q55 — IVF-PQ E2E under the planted-companion contract: companions
    * share their query's Voronoi cell (q31 proved the probing recovers
    * them) and survive the PQ pool (q54 proved the quantization gap),
    * so the composed pipeline must also reproduce the exact top-5.
    */
  def q55IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val (uni, queries) = annPlantedUniverse(spark, dir)
    ivfPqAnnTopK(spark, uni, queries,
      nHint = Some(500L + NQueries.toLong * AnnCompanions))
  }

  /** q54 — PQ ANN E2E under the planted-companion contract (q19/q31's
    * oracle): companions sit at cosine ≥ 0.9987 while everything else is
    * ≈ 0.4, a gap orders of magnitude wider than the quantization error
    * of 18 centroids per 8-dim subspace, so every companion lands in the
    * approximate top-50 pool and the exact rerank reproduces the exact
    * top-5 — deterministically, because codebook training, encoding and
    * the pool order are all fixed by vec_id order alone.
    */
  def q54PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val (uni, queries) = annPlantedUniverse(spark, dir)
    pqAnnTopK(spark, uni, queries,
      nHint = Some(500L + NQueries.toLong * AnnCompanions))
  }
}
