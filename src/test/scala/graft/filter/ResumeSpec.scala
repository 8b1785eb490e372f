package graft.filter

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.jobs.{BuildFixtures, QualityFilterJob}
import graft.model.FileRecord

/** North-rule resume semantics: a run that committed only some buckets'
  * metrics is resumed without reprocessing them, and the final output is
  * identical to a clean full run (SURVEY.md §5.2 item 5).
  */
class ResumeSpec extends SparkSpec {
  test("job resumes from committed buckets; final output matches clean run") {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val corpus = TinyCorpus.path
    val cleanDir = Files.createTempDirectory("graft_clean").toString
    val crashDir = Files.createTempDirectory("graft_crash").toString

    // clean full run
    val (kept, dropped, resumed0) = QualityFilterJob.run(spark, corpus, cleanDir)
    assert(resumed0 == 0)
    assert(kept + dropped == 2000)

    // idempotent re-run: fast path, nothing recomputed
    val (kept2, dropped2, resumed2) = QualityFilterJob.run(spark, corpus, cleanDir)
    assert((kept2, dropped2) == (kept, dropped))
    assert(resumed2 == QualityFilter.MetricsBuckets)

    // simulate a crash: only buckets < 32 committed (verdicts + metrics)
    val lm = spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath))
    val km = spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath))
    val all = spark.read.parquet(corpus).as[FileRecord]
    val half = all.filter(QualityFilter.bucketOf(col("repo"), col("path")) < 32)
    val vHalf = QualityFilter.verdicts(spark, half, lm, km)
    vHalf.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$crashDir/verdicts")
    QualityFilter.metrics(vHalf).write.mode(SaveMode.Append)
      .parquet(s"$crashDir/metrics")
    val committed = spark.read.parquet(s"$crashDir/metrics")
      .select("bucket").distinct().count()

    // resume: must skip the committed buckets and complete the rest
    val (kept3, dropped3, resumed3) = QualityFilterJob.run(spark, corpus, crashDir)
    assert(resumed3 == committed, s"resumed $resumed3 != committed $committed")

    val out = spark.read.parquet(s"$crashDir/verdicts")
    assert(out.count() == 2000, "resumed output incomplete or duplicated")
    assert(out.select("commit").distinct().count() == 2000)

    // resumed result identical to the clean run (same keeps, same hashes)
    val a = spark.read.parquet(s"$cleanDir/verdicts")
      .select("commit", "keep", "scrubbed_sha256")
    val b = out.select("commit", "keep", "scrubbed_sha256")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "resumed verdicts differ from clean run")

    // metrics totals line up with the data
    val m = spark.read.parquet(s"$crashDir/metrics")
      .agg(sum("rows_in"), sum("rows_kept"), sum("rows_dropped")).head()
    assert(m.getLong(0) == 2000)
    assert(m.getLong(1) == kept && m.getLong(2) == dropped)
  }
}
