package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Physical-plan regression gates — the `.explain`-and-iterate discipline
  * as assertions, so a future change that silently drops a pushdown,
  * broadcast or codegen span fails CI instead of shipping a slow plan.
  * Plans are inspected AFTER execution (AQE final plan, `*(n)` codegen
  * markers); the "== Initial Plan ==" tail that AQE repeats is cut so
  * exchange counts are not double-counted.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def scanLine(p: String, table: String): String =
    p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains(table))
      .getOrElse(fail(s"no parquet scan of $table in:\n$p"))

  test("q01: lineitem scan prunes to the five needed columns") {
    val scan = scanLine(finalPlan(Queries.q01PricingSummary(spark, dir)),
      "lineitem")
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
      "l_linestatus").foreach(c => assert(scan.contains(c), c))
    assert(!scan.contains("l_orderkey"), "unused column read")
  }

  test("q02: every dimension join broadcasts; fact scan pruned and pushed") {
    val p = finalPlan(Queries.q02RevenueByNation(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
    val fact = scanLine(p, "lineitem")
    assert(fact.contains("PushedFilters: [IsNotNull(l_orderkey)]"))
    assert(!fact.contains("l_quantity"), "unused column read")
  }

  test("q22 profiler: ONE wide shuffle (the fieldPath agg), join-free") {
    val p = finalPlan(ProfileQueries.q22ProfileJson(spark, dir))
    val hashExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1,
      s"profiler should shuffle once (the fieldPath agg), saw $hashExchanges")
    assert(!p.contains("Join"), "profiler plan must be join-free")
  }

  test("q24 scrubber: the custom Expression runs inside whole-stage codegen") {
    val p = finalPlan(ProfileQueries.q24PiiScrub(spark, dir))
    val scrubLine = p.linesIterator.find(_.contains("scrub_pii("))
      .getOrElse(fail("scrub_pii not in plan"))
    assert(scrubLine.contains("*("),
      s"scrub projection not codegen'd: $scrubLine")
    assert(!p.contains("EvalPython") && !p.contains("BatchEval"))
  }

  test("q15's hot-shingle filter stage is a broadcast anti-join") {
    // inspected on the uncached stage (inside q15 it sits behind a cache,
    // whose InMemoryRelation hides the subtree from the outer plan string)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tok = TrainingOps.shingleTokens(TrainingOps.shingleSets(docs),
      TrainingOps.ShingleDfCap)
    // static plan: at this SF no shingle is hot, so AQE's
    // propagate-empty-relation rewrite ELIMINATES the anti-join at
    // runtime (zero cost when the cap never fires — itself the desired
    // adaptive behavior, asserted below)
    val static = tok.queryExecution.executedPlan.toString
    assert(static.contains("LeftAnti"), "DF cap should be an anti-join")
    assert(static.linesIterator.filter(_.contains("LeftAnti"))
      .forall(_.contains("Broadcast")), "anti-join should broadcast")
    val runtime = finalPlan(tok)
    assert(!runtime.contains("LeftAnti"),
      "empty hot set should be adaptively eliminated")
  }

  test("q29: annotation join broadcasts the annotation side") {
    val p = finalPlan(ProfileQueries.q29AnnotatedFields(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("LeftOuter, BuildRight"),
      "annotation side should be the broadcast build side")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q39: region-name enrichment broadcasts, parsed side never shuffles wide") {
    val p = finalPlan(ProfileQueries.q39Geopackage(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the 5-row region side must broadcast, not sort-merge")
  }

  test("q42: schema-enhancement join broadcasts the XSD metadata side") {
    // the S13/J5 contract under the gate (r4 verdict item 4): the profile
    // side must NOT shuffle for the enhancement join — the schema metadata
    // (≤ hundreds of rows) is the broadcast build side
    val p = finalPlan(ProfileQueries.q42XsdEnhance(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("LeftOuter, BuildRight"),
      "XSD metadata should be the broadcast build side of the left join")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q43: incremental-dedup joins broadcast the delta; catalog never shuffles") {
    // the 100 TB contract behind q43: the signature catalog (the big
    // side) must stream map-side through every join — a sort-merge join
    // would shuffle the whole corpus catalog per crawl batch
    import org.apache.spark.sql.functions.col
    val docs = Queries.t(spark, dir, "documents")
    val (cb, cs) = IncrementalDedup.signatures(
      docs.filter(col("doc_id") % 10 =!= 0), 0.9)
    val (db, ds) = IncrementalDedup.signatures(
      docs.filter(col("doc_id") % 10 === 0), 0.9)
    val p = finalPlan(IncrementalDedup.deltaPairs(
      db, cb.union(db), cs.union(ds), 0.9))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "catalog side shuffled for a join — the delta must broadcast")
  }

  test("q43 signing reads the token stage from cache, not the raw generator") {
    // regression pin for the r5 10× fix: the shingle generator must be
    // cached before the explode/anti-join consume it — an uncached plan
    // re-derives the arrays on both sides (21.7 s vs 2.0 s, BENCH.md
    // "Post-fix re-measurement (round 5, after the signing-cache fix)")
    import org.apache.spark.sql.functions.col
    val (b, _) = IncrementalDedup.signatures(
      Queries.t(spark, dir, "documents").filter(col("doc_id") >= 0), 0.9)
    val p = finalPlan(b)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "signing stages must come from the cached token frame:\n" + p)
  }

  test("q47: sampling pass prunes to (doc_id, lang); thresholds broadcast") {
    val p = finalPlan(CurationOps.q47TrainingMixture(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the 5-row threshold table must broadcast, never shuffle the corpus")
    // the hash-sampling scan must NOT read text — the sampling decision
    // is a pure function of (doc_id, lang) and column pruning is what
    // keeps pass 2 cheap at 100 TB
    val slim = p.linesIterator.exists(l => l.contains("FileScan parquet") &&
      l.contains("doc_id") && l.contains("lang") && !l.contains("text"))
    assert(slim, s"no pruned (doc_id, lang) sampling scan in:\n$p")
  }

  test("q49: eval-gram joins broadcast; the corpus never sort-merges") {
    val p = finalPlan(CurationOps.q49Decontamination(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "eval sets are small by construction - the corpus side must not shuffle for a join")
  }

  test("q50: shuffle window partitions by shard, never a single partition") {
    val p = finalPlan(CurationOps.q50ShuffleShards(spark, dir))
    val win = p.linesIterator.find(_.contains("Window"))
      .getOrElse(fail("no Window in plan"))
    assert(win.contains("shard"),
      s"permutation window must partition by shard (distributed sort): $win")
    assert(!p.contains("Exchange SinglePartition"),
      "global-shuffle plan collapsed to one partition - would serialize at 100 TB")
  }

  test("q53: single aggregate, no Expand (collect_set replaces countDistinct)") {
    val p = finalPlan(CurationOps.q53SourceQuality(spark, dir))
    assert(!p.contains("Expand"),
      "source profile must not Expand the scan - lang diversity is collect_set, not countDistinct")
    val hashExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    // one partial->final agg exchange on source; the orderBy adds a range
    // exchange over 20 rows, which is not hashpartitioning
    assert(hashExchanges === 1,
      s"expected exactly one agg shuffle into source keys, saw $hashExchanges")
  }

  test("q55: probe side broadcasts; the code table never sort-merges") {
    val p = finalPlan(TrainingOps.q55IvfPqAnn(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "query probes are tiny by contract - the corpus-side code table must not shuffle for the probe join")
  }

  test("q56: gram scan prunes to (text, source); index cached; sizes broadcast") {
    // scan pin on the uncached gram stage (inside q56 it sits behind a
    // cache whose InMemoryRelation hides the subtree — the q15 pattern)
    val g = ContainerOps.containerGrams(
      spark.read.parquet(s"$dir/documents.parquet"), "source")
    val scan = scanLine(finalPlan(g), "documents")
    assert(scan.contains("struct<text:string,source:string>") ||
      (scan.contains("text") && scan.contains("source") &&
        !scan.contains("doc_id")),
      s"gram stage must read only (text, source): $scan")
    val p = finalPlan(ContainerOps.q56SourceSimilarity(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      "the capped gram index must be reused from cache")
    assert(p.contains("BroadcastHashJoin"),
      "the per-container sizes joins must broadcast")
    assert(p.contains("collect_set"),
      "the pair stage must be group-then-emit (collect_set per gram), " +
        "not the double-shuffle gram self-join")
  }

  test("q61: as-of join plans as union+window — zero join operators") {
    val p = finalPlan(TimeJoins.q61AsofJoin(spark, dir))
    assert(p.contains("Window"), "the backfill window must be present")
    assert(!p.contains("Join"),
      "the as-of shape must not contain ANY join - the naive theta-join " +
        "formulation explodes to |L|*|R| per key")
  }

  test("q62: range join equi-joins on the bucket, never a nested loop") {
    val p = finalPlan(TimeJoins.q62RangeJoin(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "a raw range predicate would plan a nested-loop join - the bucket " +
        "key must make it an equi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi-join in:\n$p")
  }

  test("q63: sessionization runs on ONE exchange (windows + agg share it)") {
    val p = finalPlan(TimeJoins.q63Sessionize(spark, dir))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"lag window, running sum and the session aggregate must all reuse " +
        s"the user_id partitioning - found $exchanges hash exchanges in:\n$p")
  }

  test("q57: scan prunes to (doc_id, text); position index cached once") {
    val p = finalPlan(CurationOps.q57RepeatedSpans(spark, dir))
    val scan = scanLine(p, "documents")
    assert(scan.contains("struct<doc_id:bigint,text:string>") ||
      (!scan.contains("source") && !scan.contains("lang")),
      s"span stage must not read source/lang/n_chars: $scan")
    assert(p.contains("InMemoryTableScan"),
      "the exploded position frame must feed frequency agg AND the " +
        "position join from cache, not two generator passes")
  }
}
