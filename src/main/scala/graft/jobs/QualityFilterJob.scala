package graft.jobs

import org.apache.spark.sql.SparkSession
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
  *      at most 64 + tasks − 1 files
  *   4. ONLY THEN append the buckets' metrics rows — the metrics append is
  *      the commit marker, so a crash between 3 and 4 re-does those
  *      buckets instead of losing them
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

  /** Returns (kept, dropped, alreadyDoneBuckets). */
  def run(spark: SparkSession, input: String, outDir: String): (Long, Long, Int) = {
    import spark.implicits._
    val cat = new graft.catalog.ParquetCatalog(outDir)

    val lm = spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath))
    val km = spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath))

    // 1-2. resume: skip buckets whose metrics are committed
    val done: Set[Int] = cat.read(spark, "metrics")
      .map(_.select("bucket").distinct().as[Int].collect().toSet)
      .getOrElse(Set.empty)
    val all = spark.read.parquet(input).as[FileRecord]
    val todo =
      if (done.isEmpty) all
      else all.filter(
        !QualityFilter.bucketOf(col("repo"), col("path")).isin(done.toSeq: _*))

    if (todo.isEmpty) {
      val m = cat.read(spark, "metrics").get
        .agg(sum("rows_kept"), sum("rows_dropped")).head()
      return (m.getLong(0), m.getLong(1), done.size)
    }

    // 3. pipeline + verdict write (idempotent per bucket)
    val v = QualityFilter.verdicts(spark, todo, lm, km).cache()
    cat.overwritePartitions(v.toDF(), "verdicts", Seq("bucket"))

    // 4. commit marker: append metrics for the buckets just completed
    cat.appendMarker(QualityFilter.metrics(v).toDF(), "metrics")

    val agg = v.agg(
      sum(when(col("keep"), 1L).otherwise(0L)),
      sum(when(!col("keep"), 1L).otherwise(0L))).head()
    v.unpersist()
    (agg.getLong(0), agg.getLong(1), done.size)
  }
}
