package graft.filter

import java.io.File
import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.JobTrace
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.jobs.{BuildFixtures, QualityFilterJob}
import graft.model.FileRecord
import graft.streaming.StreamingFilterJob

/** Physical layout of the quality filter: the scoring shuffle ranges on
  * the lineage bucket, so the `partitionBy(bucket)` verdict write opens
  * one file per bucket plus at most one per range boundary, while the
  * mega-repo's rows still spread over the scoring tasks. One run is one
  * scoring pass: the verdict write observes the per-bucket metrics in its
  * result stage, and the commit marker is appended from them.
  */
class FilterLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {
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

  /** One `QualityFilterJob.run` under its own job group: its result, its
    * Spark job count and the executed plans of its observed writes.
    */
  private def tracedRun(out: String): ((Long, Long, Int), Int, Seq[SparkPlan]) = {
    val input = TinyCorpus.path // generated outside the counted group
    JobTrace(spark, s"filter-jobs-${new File(out).getName}") {
      QualityFilterJob.run(spark, input, out)
    }
  }

  /** The one observed write holds its observed node in its result stage,
    * above the range exchange: the exchange is below it, none above it.
    */
  private def assertObservedInResultStage(writes: Seq[SparkPlan]): Unit = {
    assert(writes.size == 1, s"${writes.size} observed writes")
    val write = writes.head
    val observed = find(write)(_.isInstanceOf[CollectMetricsExec]).get
    assert(find(observed)(_.isInstanceOf[ShuffleExchangeLike]).nonEmpty,
      s"no exchange below the observed node:\n$write")
    assert(collect(write) { case e: ShuffleExchangeLike => e }
      .forall(e => find(e)(_.isInstanceOf[CollectMetricsExec]).isEmpty),
      s"observed node inside a shuffle-map stage:\n$write")
  }

  private def footerSchema(file: File): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.toURI), conf))
    try new ParquetToSparkSchemaConverter()
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  private def markerFiles(out: String): Seq[File] =
    new File(s"$out/metrics").listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq

  /** The marker rows equal [[QualityFilter.metrics]] over the written
    * verdicts, and every marker file has the schema, nullability included,
    * that `metrics` over the scored input writes.
    */
  private def assertMarkerIsMetrics(out: String): Unit = {
    import spark.implicits._
    val marker = spark.read.parquet(s"$out/metrics")
    val ref = QualityFilter.metrics(spark.read.parquet(s"$out/verdicts"))
    assert(marker.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)))
    assert(marker.exceptAll(ref).isEmpty && ref.exceptAll(marker).isEmpty,
      "marker rows differ from metrics over the written verdicts")
    val (lm, km) = models()
    val input = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val written = QualityFilter.metrics(
      QualityFilter.verdicts(spark, input, lm, km)).schema
    markerFiles(out).foreach(f => assert(footerSchema(f) == written, f.getName))
  }

  test("a fresh run is one scoring pass: 4 Spark jobs, marker = metrics") {
    // the range-bound sample, the write's shuffle-map and result stages,
    // and the marker append; the parent commit ran 10
    for (run <- 1 to 2) {
      val out = Files.createTempDirectory("graft_layout_jobs").toString
      val ((kept, dropped, resumed), jobs, writes) = tracedRun(out)
      assert(jobs == 4, s"run $run spent $jobs Spark jobs")
      assert(kept + dropped == 2000 && resumed == 0)
      assertObservedInResultStage(writes)
      assertMarkerIsMetrics(out)
      assert(markerFiles(out).size == 1)
    }
  }

  test("a run resumed from a crash state appends marker = metrics") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_layout_crash").toString
    // ResumeSpec's crash state: buckets < 32 committed by plain writes
    val (lm, km) = models()
    val all = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val half = QualityFilter.verdicts(spark,
      all.filter(QualityFilter.bucketOf(col("repo"), col("path")) < 32), lm, km)
    half.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$out/verdicts")
    QualityFilter.metrics(half).write.mode(SaveMode.Append)
      .parquet(s"$out/metrics")
    val crashFiles = markerFiles(out).size

    val ((kept, dropped, resumed), _, writes) = tracedRun(out)
    assert(resumed == 32)
    val tail = spark.read.parquet(s"$out/verdicts").filter(col("bucket") >= 32)
    assert(kept == tail.filter(col("keep")).count())
    assert(dropped == tail.filter(!col("keep")).count())
    assertObservedInResultStage(writes)
    assertMarkerIsMetrics(out)
    assert(markerFiles(out).size == crashFiles + 1)
  }

  test("empty input on a fresh catalog returns zeros and appends no marker") {
    val in = Files.createTempDirectory("graft_layout_empty").toString
    val out = Files.createTempDirectory("graft_layout_empty_out").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      FileRecord.schema).write.mode(SaveMode.Overwrite).parquet(s"$in/corpus")
    // a run whose observation never arrives fails here instead of hanging
    val result = Await.result(Future(
      QualityFilterJob.run(spark, s"$in/corpus", out))(ExecutionContext.global),
      5.minutes)
    assert(result == ((0L, 0L, 0)))
    assert(!new File(s"$out/metrics").exists())
  }

  test("a streaming micro-batch is one scoring pass: marker = metrics") {
    val base = Files.createTempDirectory("graft_layout_stream").toString
    val input = TinyCorpus.path
    val group = s"filter-jobs-stream-${new File(base).getName}"
    val (n, _, writes) = JobTrace(spark, group) {
      StreamingFilterJob.runOnce(spark, input, s"$base/out", s"$base/ckpt")
    }
    assert(n == 2000)
    assertObservedInResultStage(writes)
    val marker = spark.read.parquet(s"$base/out/metrics")
    val ref = QualityFilter.metrics(spark.read.parquet(s"$base/out/verdicts"))
      .withColumn("batch_id", lit(0L))
    assert(marker.exceptAll(ref).isEmpty && ref.exceptAll(marker).isEmpty,
      "marker rows differ from metrics over the written verdicts")
    // each marker file has the schema of `metrics` plus a batch_id
    import spark.implicits._
    val (lm, km) = models()
    val written = QualityFilter.metrics(QualityFilter.verdicts(spark,
      spark.read.parquet(input).as[FileRecord], lm, km))
      .withColumn("batch_id", lit(0L)).schema
    new File(s"$base/out/metrics").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(footerSchema(f) == written, f.getName))
  }
}
