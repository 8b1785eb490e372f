package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.ParquetCatalog
import graft.filter.{KnLm, LangId, QualityFilter}
import graft.jobs.{BuildFixtures, Sessions}
import graft.model.FileRecord

/** Incremental quality-filter ingest via Structured Streaming — the
  * engine's second resume path (SURVEY.md §2.10): `readStream` over the
  * input directory, `Trigger.AvailableNow` (process everything present,
  * then stop), `foreachBatch` running the SAME batch pipeline, checkpoint
  * directory tracking which input files are already committed. A rerun
  * after new files land processes ONLY the new files.
  *
  * Complements the bucket-level commit protocol of
  * [[graft.jobs.QualityFilterJob]]: that one re-runs unfinished buckets of
  * a fixed snapshot; this one tails a growing directory. `foreachBatch`
  * gives at-least-once batch delivery — verdict writes are idempotent per
  * (repo,path,commit) keys, metrics appends carry the batch id so
  * duplicates are distinguishable downstream.
  */
object StreamingFilterJob {

  /** Run one availableNow pass; returns rows processed in this pass. */
  def runOnce(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String): Long = {
    import spark.implicits._
    val lm = spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath))
    val km = spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath))
    val processed = spark.sparkContext.longAccumulator("rows_processed")

    val q = spark.readStream.schema(FileRecord.schema).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one pass, as QualityFilterJob: the verdict append observes the
        // per-bucket metrics in its result stage, above the range exchange
        val v = QualityFilter.verdicts(spark, batch.as[FileRecord], lm, km)
        val observed = Observation()
        ParquetCatalog.writer(v.observe(observed, QualityFilter.tally)
            .withColumn("batch_id", lit(batchId)))
          .mode(SaveMode.Append).parquet(s"$outDir/verdicts")
        val rows = QualityFilter.tallyRows(observed.get("tally"))
        if (rows.nonEmpty) {
          processed.add(rows.map(_.getLong(1)).sum)
          ParquetCatalog.writer(QualityFilter.metricsFrame(v, rows)
              .withColumn("batch_id", lit(batchId)))
            .mode(SaveMode.Append).parquet(s"$outDir/metrics")
        }
        ()
      }
      .start()
    q.awaitTermination()
    lm.destroy(); km.destroy()
    processed.value
  }

  def main(args: Array[String]): Unit = {
    val Array(inputDir, outDir, checkpointDir) = args.take(3)
    val spark = Sessions.cli("graft-streaming-filter")
    val n = runOnce(spark, inputDir, outDir, checkpointDir)
    println(s"""{"rows_processed":$n}""")
    spark.stop()
  }
}
