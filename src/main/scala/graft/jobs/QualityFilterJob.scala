package graft.jobs

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.{KnLm, LangId, QualityFilter}
import graft.model.FileRecord

/** Resumable quality-filter job (north rule: "resumable from checkpoint
  * with per-partition lineage + metrics").
  *
  * Checkpoint unit = the deterministic content bucket
  * `QualityFilter.bucketOf(repo, path)` = `pmod(hash(repo,path), 64)`.
  * Protocol (Iceberg-shaped commit semantics over plain Parquet —
  * SURVEY.md §7.4 risk 4):
  *
  *   1. read committed metrics table (if any) → done-bucket set
  *   2. filter input to NOT-done buckets (hash filter pushed into the scan
  *      stage — no shuffle needed to skip completed work)
  *   3. run the pipeline, whose scoring shuffle range-partitions on the
  *      same bucket, so tasks hold contiguous bucket ranges; write
  *      verdicts `partitionBy(bucket)` with dynamic partition overwrite
  *      (idempotent per bucket on re-run), one file per (task, bucket) —
  *      at most 64 + tasks − 1 files. The write observes the per-bucket
  *      metrics ([[QualityFilter.tally]]) in the same tasks, so scoring
  *      is one pass: no cache, no second scan for metrics or totals
  *   4. ONLY THEN append the observed buckets' metrics rows — the metrics
  *      append is the commit marker, so a crash between 3 and 4 re-does
  *      those buckets instead of losing them. A run that scored no row
  *      appends nothing and returns the committed totals
  *
  * Usage: runMain graft.jobs.QualityFilterJob <inputParquet> <outDir>
  */
object QualityFilterJob {
  def main(args: Array[String]): Unit = {
    val input = args(0)
    val outDir = args(1)
    val spark = Sessions.cli("graft-quality-filter")
    val result = run(spark, input, outDir)
    println(s"""{"kept":${result._1},"dropped":${result._2},"resumedBuckets":${result._3}}""")
    spark.stop()
  }

  /** Returns (kept, dropped, alreadyDoneBuckets): this run's rows, or the
    * committed totals when it scored none. */
  def run(spark: SparkSession, input: String, outDir: String): (Long, Long, Int) = {
    import spark.implicits._
    val cat = new graft.catalog.ParquetCatalog(outDir)

    val lm = spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath))
    val km = spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath))

    // 1-2. resume: skip buckets whose metrics are committed
    val committed = cat.read(spark, "metrics")
      .map(_.select("bucket", "rows_kept", "rows_dropped")
        .as[(Int, Long, Long)].collect().toSeq)
      .getOrElse(Nil)
    val done = committed.map(_._1).toSet
    val all = spark.read.schema(FileRecord.schema).parquet(input).as[FileRecord]
    val todo =
      if (done.isEmpty) all
      else all.filter(
        !QualityFilter.bucketOf(col("repo"), col("path")).isin(done.toSeq: _*))

    // 3. pipeline + verdict write (idempotent per bucket), observing the
    // per-bucket metrics. Counted exactly once only because the observed
    // node sits in the write's result stage, above the range exchange:
    // Spark applies a result task's accumulator updates once per
    // partition, so retried and speculative copies add nothing, while a
    // shuffle-map stage gives no such guarantee. FilterLayoutSpec pins it.
    val v = QualityFilter.verdicts(spark, todo, lm, km)
    val observed = Observation()
    cat.overwritePartitions(v.observe(observed, QualityFilter.tally),
      "verdicts", Seq("bucket"))
    val rows = QualityFilter.tallyRows(observed.get("tally"))
    if (rows.isEmpty)
      return (committed.map(_._2).sum, committed.map(_._3).sum, done.size)

    // 4. commit marker: append metrics for the buckets just completed, in
    // one file, under the schema `metrics` would have written
    cat.appendMarker(QualityFilter.metricsFrame(v, rows), "metrics")
    (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum, done.size)
  }
}
