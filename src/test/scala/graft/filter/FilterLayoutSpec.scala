package graft.filter

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.jobs.{BuildFixtures, QualityFilterJob}
import graft.model.FileRecord

/** Physical layout of the quality filter: the scoring shuffle ranges on
  * the lineage bucket, so the `partitionBy(bucket)` verdict write opens
  * one file per bucket plus at most one per range boundary, while the
  * mega-repo's rows still spread over the scoring tasks.
  */
class FilterLayoutSpec extends SparkSpec {
  /** Scoring partitions: 2 × defaultParallelism of the local[8] session. */
  private val parts = 16

  /** Parquet files under `verdicts/bucket=b` for the buckets `keep` selects. */
  private def verdictFiles(outDir: String, keep: Int => Boolean = _ => true): Int =
    new File(s"$outDir/verdicts").listFiles()
      .filter(d => d.getName.startsWith("bucket=") &&
        keep(d.getName.stripPrefix("bucket=").toInt))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
      .sum

  private def models() =
    (spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath)),
      spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath)))

  test("verdict write holds at most one file per bucket and range boundary") {
    assert(spark.sparkContext.defaultParallelism * 2 == parts)
    val out = Files.createTempDirectory("graft_layout").toString
    val (kept, dropped, _) = QualityFilterJob.run(spark, TinyCorpus.path, out)
    assert(kept + dropped == 2000)
    val files = verdictFiles(out)
    val bound = QualityFilter.MetricsBuckets + parts - 1
    assert(files <= bound, s"$files verdict files > $bound")
  }

  test("mega-repo rows spread over the scoring partitions") {
    import spark.implicits._
    val (lm, km) = models()
    val input = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val spread = QualityFilter.score(spark, input, lm, km)
      .filter(col("repo") === "megacorp/monorepo")
      .select(spark_partition_id()).distinct().count()
    assert(spread >= 8, s"mega-repo scored in only $spread partitions")
  }

  test("verdicts run the scrubber once per row: one scrub_pii( in the plan") {
    import spark.implicits._
    val (lm, km) = models()
    val input = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val v = QualityFilter.verdicts(spark, input, lm, km)
    v.write.format("noop").mode("overwrite").save()
    val plan = v.queryExecution.executedPlan.toString
    val calls = "scrub_pii\\(".r.findAllMatchIn(plan).size
    assert(calls == 1, s"scrub_pii( appears $calls times in:\n$plan")
  }

  test("a resumed run over the missing buckets keeps the file bound") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_layout_resume").toString
    val (lm, km) = models()
    val all = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val committed = 32
    val half = QualityFilter.verdicts(spark,
      all.filter(QualityFilter.bucketOf(col("repo"), col("path")) < committed),
      lm, km)
    val cat = new ParquetCatalog(out)
    cat.overwritePartitions(half, "verdicts", Seq("bucket"))
    cat.appendMarker(QualityFilter.metrics(half), "metrics")

    val (_, _, resumed) = QualityFilterJob.run(spark, TinyCorpus.path, out)
    assert(resumed == committed)
    assert(spark.read.parquet(s"$out/verdicts").count() == 2000)
    val files = verdictFiles(out, _ >= committed)
    val bound = QualityFilter.MetricsBuckets - committed + parts - 1
    assert(files <= bound, s"resumed run wrote $files files > $bound")
  }
}
