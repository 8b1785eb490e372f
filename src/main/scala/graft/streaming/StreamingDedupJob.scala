package graft.streaming

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.catalog.ParquetCatalog
import graft.queries.IncrementalDedup

/** Incremental near-dup dedup on the availableNow streaming path (r4
  * verdict item 6): new-document drops land as parquet files under
  * `inDir`; each micro-batch runs one [[IncrementalDedup.deltaStep]] —
  * signatures for the batch only, delta-vs-catalog candidate join,
  * exact verify — and commits pairs + signatures per batchId (overwrite
  * paths, so checkpoint replay after a crash rewrites identical output
  * instead of duplicating it). Restarting the job with the same
  * checkpoint resumes from the first unprocessed drop; the catalog is
  * the persistent state, the checkpoint only tracks file offsets.
  *
  * At 100 TB this is the operational shape: the full corpus is signed
  * once (a batch like any other), then every incremental crawl joins
  * only its delta's buckets against the bucket catalog — no rescan of
  * old content, no recompute of old signatures.
  */
object StreamingDedupJob {

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Output schema of every pairs batch (== TrainingOps.minhashLsh). */
  val PairsSchema: StructType = StructType(Seq(
    StructField("doc_i", LongType),
    StructField("doc_j", LongType),
    StructField("n_inter", LongType),
    StructField("n_union", LongType),
    StructField("jaccard", DoubleType)))

  /** Run one availableNow lifecycle: ingest every unprocessed drop in
    * `inDir`, emit pairs under `outDir/pairs/batch=<id>` and signatures
    * under `catalogDir`. Returns the number of batches processed.
    *
    * `seedBatch0 = true` (r5 verdict item 2) is the production bootstrap
    * for an EXISTING, already-deduplicated corpus: batch 0 is signed
    * into the catalog via [[IncrementalDedup.commitBatch]] ONLY — no
    * delta join — so the full corpus seed never rides a broadcast (the
    * old path pushed the entire corpus's buckets through the delta
    * broadcast: fine at gate scale, OOM at 10¹² rows). An empty pairs
    * batch is still committed so downstream unions see every batch id.
    * Batch 0 must then BE the whole seed drop: write it as one drop and
    * leave file-count triggers unset (availableNow folds all available
    * files into batch 0), or pre-seed via commitBatch before starting
    * the stream. q44 keeps seedBatch0 = false because its oracle is the
    * full pair set INCLUDING corpus-internal pairs.
    */
  def runOnce(spark: SparkSession, inDir: String, catalogDir: String,
      outDir: String, ckptDir: String, threshold: Double,
      seedBatch0: Boolean = false): Long = {
    val batches = spark.sparkContext.longAccumulator("dedup_batches")
    val stream = spark.readStream.schema(DocSchema).parquet(inDir)
    val q = stream.writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs =
          if (seedBatch0 && batchId == 0L) {
            IncrementalDedup.commitBatch(batch, batchId, catalogDir,
              threshold)
            // one empty partition (not emptyRDD): forces a part file
            // with a parquet footer so the pairs tree stays readable
            // before the first delta batch lands
            spark.createDataFrame(
              spark.sparkContext.parallelize(Seq.empty[Row], 1), PairsSchema)
          } else {
            IncrementalDedup.deltaStep(spark, batch, batchId,
              catalogDir, threshold)
          }
        ParquetCatalog.writer(pairs).mode("overwrite")
          .parquet(s"$outDir/pairs/batch=$batchId")
        batches.add(1)
        ()
      }
      .start()
    q.awaitTermination()
    batches.value
  }

  /** All pairs discovered so far (union of every batch's delta pairs). */
  def allPairs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/pairs")
      .select(col("doc_i"), col("doc_j"), col("n_inter"), col("n_union"),
        col("jaccard"))

  /** q44: the streaming incremental-dedup path E2E under the gate. The
    * documents table arrives as TWO parquet drops (corpus = doc_id % 10
    * != 0, then delta = the rest) processed by two availableNow
    * lifecycles over ONE checkpoint — so the second lifecycle is a real
    * restart that resumes at the unprocessed drop. Because each batch's
    * [[IncrementalDedup.deltaStep]] emits exactly the new×all pairs and
    * batches partition the corpus, the union over batches reconstructs
    * EXACTLY the full-corpus near-dup set (IncrementalDedupSpec pins the
    * set equality) — which is what the oracle recomputes: the exact
    * pairwise-Jaccard scan over ALL documents at the same threshold,
    * i.e. q16's oracle through the streaming engine instead of the batch
    * one. Temp state follows q40's collect-delete-rebuild lifecycle.
    */
  def q44StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q44").toString
    // finally-scoped: a throw mid-lifecycle must not leak the drop dirs /
    // catalog / checkpoint into /tmp (r5 ADVICE)
    val (rows, schema) =
      try {
        val (in, cat, out, ckpt) =
          (s"$root/in", s"$root/cat", s"$root/out", s"$root/ckpt")
        val docs = graft.queries.Queries.t(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        ParquetCatalog.writer(docs.filter(col("doc_id") % 10 =!= 0))
          .mode("append").parquet(in)
        runOnce(spark, in, cat, out, ckpt, 0.9)
        ParquetCatalog.writer(docs.filter(col("doc_id") % 10 === 0))
          .mode("append").parquet(in)
        runOnce(spark, in, cat, out, ckpt, 0.9)
        val projected = allPairs(spark, out)
          .orderBy(col("doc_i"), col("doc_j"))
        (projected.collect().toSeq, projected.schema)
      } finally FileUtil.fullyDelete(new java.io.File(root))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
