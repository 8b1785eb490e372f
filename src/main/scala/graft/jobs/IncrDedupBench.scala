package graft.jobs

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.functions._

import graft.queries.{IncrementalDedup, TrainingOps}

/** Incremental-dedup scale datapoint (r4 verdict item 6): a corpus of N
  * docs is signed once into a parquet signature catalog
  * ([[IncrementalDedup.commitBatch]] — which also freezes the catalog's
  * hot-shingle cap set); then a delta of N·pct/100 new docs (with
  * planted cross dups into the corpus) is deduplicated three ways —
  *
  *   1. INCREMENTAL, broadcast delta join (the crawl shape:
  *      [[IncrementalDedup.deltaPairs]] with broadcastDelta = true);
  *   2. INCREMENTAL, shuffle delta join (the bulk-drop fallback the
  *      size switch takes past [[IncrementalDedup.BroadcastDeltaMaxRows]]
  *      bucket rows — r5 verdict item 2);
  *   3. FULL RECOMPUTE: [[TrainingOps.minhashLsh]] over corpus ∪ delta.
  *
  * All three must find exactly the planted pairs; the report is the
  * wall ratio, which at 100 TB is the difference between touching the
  * delta and re-signing the corpus on every crawl, plus the
  * broadcast-vs-shuffle A/B at the same delta size.
  *
  * Run: sbt -batch "runMain graft.jobs.IncrDedupBench [n] [deltaPct]"
  * (defaults n=200000, deltaPct=1; deltaPct=20 is the r5-requested
  * bulk-drop point).
  */
object IncrDedupBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val deltaPct = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val deltaN = math.max(1000L, n * deltaPct / 100)
    val planted = 50
    val spark = Sessions.scale()
    import spark.implicits._

    val root = java.nio.file.Files
      .createTempDirectory("graft_incr_bench").toString
    try {
      val corpus = spark.range(n)
        .map(id => (id.toLong, DedupScaleBench.docText(id)))
        .toDF("doc_id", "text")
      // delta: new ids, `planted` of them exact dups of corpus docs
      val delta = spark.range(deltaN).map { id =>
        val i = id.toLong
        if (i < planted) (100000000L + i, DedupScaleBench.docText(i))
        else (100000000L + i, DedupScaleBench.docText(50000000L + i))
      }.toDF("doc_id", "text")

      // one-time corpus signing (the "existing catalog" precondition) —
      // timed separately: it happens once, not per crawl
      val t0 = System.nanoTime()
      IncrementalDedup.commitBatch(corpus, 0L, s"$root/catalog", 0.9)
      val signSec = (System.nanoTime() - t0) / 1e9

      // the delta's signing commit, shared by both join-path timings
      val t1 = System.nanoTime()
      val committed = IncrementalDedup.commitCounted(delta, 1L,
        s"$root/catalog", 0.9, TrainingOps.ShingleDfCap)
      val signDeltaSec = (System.nanoTime() - t1) / 1e9

      // deltaStep's own snapshot read and write-observed row count
      val (newB, allB, allS) = committed.read(spark)
      val deltaBucketRows = committed.bucketRows

      def planted50(df: org.apache.spark.sql.DataFrame): Long = df
        .filter(col("doc_j") === col("doc_i") + 100000000L &&
          col("doc_i") < planted).count()

      val t2 = System.nanoTime()
      val bcastPairs = planted50(IncrementalDedup.deltaPairs(
        newB, allB, allS, 0.9, broadcastDelta = true))
      val bcastSec = (System.nanoTime() - t2) / 1e9

      val t3 = System.nanoTime()
      val shufPairs = planted50(IncrementalDedup.deltaPairs(
        newB, allB, allS, 0.9, broadcastDelta = false))
      val shufSec = (System.nanoTime() - t3) / 1e9

      val t4 = System.nanoTime()
      val fullPairs = planted50(TrainingOps
        .minhashLsh(spark, corpus.union(delta), 0.9))
      val fullSec = (System.nanoTime() - t4) / 1e9
      spark.catalog.clearCache()

      val incrSec = signDeltaSec + math.min(bcastSec, shufSec)
      println(
        f"""{"metric":"incr_dedup","n":$n,"delta_n":$deltaN,"delta_pct":$deltaPct,""" +
          f""""planted":$planted,"delta_bucket_rows":$deltaBucketRows,""" +
          f""""auto_path":"${if (deltaBucketRows <= IncrementalDedup.BroadcastDeltaMaxRows) "broadcast" else "shuffle"}",""" +
          f""""bcast_pairs":$bcastPairs,"shuffle_pairs":$shufPairs,""" +
          f""""full_pairs":$fullPairs,""" +
          f""""sign_corpus_sec":$signSec%.2f,"sign_delta_sec":$signDeltaSec%.2f,""" +
          f""""delta_bcast_sec":$bcastSec%.2f,"delta_shuffle_sec":$shufSec%.2f,""" +
          f""""full_recompute_sec":$fullSec%.2f,""" +
          f""""speedup":${fullSec / incrSec}%.2f}""")
    } finally FileUtil.fullyDelete(new java.io.File(root))
    spark.stop()
  }
}
