package graft.streaming

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.catalog.ParquetCatalog
import graft.jobs.Sessions
import graft.model.FieldProfile
import graft.profile.{JsonWalk, Profiler}
import graft.profile.Profiler.{FieldAccumulator, ProfBuf, RawObs}

/** Incremental schema profiling over a document stream — the reference's
  * "create a new Version from a new file" loop (SURVEY.md §3.3 4th entry
  * point) re-expressed as ONE stateful Structured Streaming query instead
  * of repeated batch re-parses:
  *
  *   readStream (availableNow)
  *     → flatMap JsonWalk observations
  *     → groupByKey(fieldPath).flatMapGroupsWithState(ProfBuf state)
  *     → foreachBatch: replace the `current` snapshot, write `history/`
  *
  * The per-key state is exactly the batch engine's [[ProfBuf]] accumulator,
  * folded with the same `FieldAccumulator.reduce` — so a streaming profile
  * after N batches equals the batch profile over the union of those batches
  * (asserted in StreamingProfileSpec). State lives in the checkpoint's
  * state store: a restarted query (new process, same checkpoint) resumes
  * counting where it left off and only reads NEW files.
  *
  * Both outputs survive a replayed batch (foreachBatch is at-least-once):
  * `current` goes through [[ParquetCatalog.replace]], so a crash leaves
  * the old or the new snapshot and the merge re-applies identically;
  * `history/` is overwritten per `batch_id` partition, never appended.
  *
  * Arrival keys across batches: the batch engine's global order key is
  * (recordId, seq), but per-batch record ids restart at 0 — so the state
  * carries a per-key epoch (the number of batches in which the key has
  * appeared) and incoming ids are re-keyed to epoch ⋅ 2⁴⁸ + id. Order only
  * matters WITHIN a key, so per-key epochs suffice: samples retained by
  * the 10-cap stay first-seen-across-the-stream. (Valid while
  * partitionId < 2¹⁵ — monotonically_increasing_id packs the partition
  * into the high bits — and < 2¹⁵ batches; plenty for availableNow
  * ingest.) `position` is not meaningful per-batch and is emitted as 0.
  */
object StreamingProfileJob {

  val docSchema: StructType = StructType(Seq(StructField("doc", StringType)))

  /** Per-key streaming state: batch-epoch counter + the batch engine's
    * accumulator buffer.
    */
  final case class StreamBuf(epoch: Long, buf: ProfBuf)

  private val RidMask = (1L << 48) - 1

  private def updateState(path: String, obs: Iterator[RawObs],
      state: GroupState[StreamBuf]): Iterator[FieldProfile] = {
    val prior = state.getOption.getOrElse(StreamBuf(0L, FieldAccumulator.zero))
    val shift = prior.epoch << 48
    val next = obs.foldLeft(prior.buf)((b, o) =>
      FieldAccumulator.reduce(b, o.copy(recordId = shift | (o.recordId & RidMask))))
    state.update(StreamBuf(prior.epoch + 1, next))
    Iterator.single(Profiler.analyze(path, next))
  }

  /** One availableNow pass; returns number of field profiles updated. */
  def runOnce(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, mongo: Boolean = false): Long = {
    import spark.implicits._
    val updated = spark.sparkContext.longAccumulator("profiles_updated")

    // monotonically_increasing_id is unsupported on streaming Datasets;
    // build the same partitionId<<33|offset key by hand per micro-batch.
    val obs = spark.readStream.schema(docSchema).parquet(inputDir)
      .select(col("doc").cast("string"))
      .as[String]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var off = -1L
        it.flatMap { json =>
          off += 1
          val rid = (pid << 33) | off
          if (json == null) Iterator.empty
          else JsonWalk.walk(json, mongo).iterator.map(o =>
            RawObs(rid, o.seq, o.fieldPath, o.fieldName,
              o.parentPath, o.nestingLevel, o.typeTag, o.value,
              o.arrayItemTags, o.arrayMark))
        }
      }

    val profiles = obs.groupByKey(_.fieldPath)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        updateState)

    val q = profiles.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FieldProfile], batchId: Long) =>
        val rows = batch.cache()
        val n = rows.count()
        updated.add(n)
        if (n > 0) {
          // merge updated paths into the current snapshot (read-modify-write
          // is safe: foreachBatch runs on the driver, one batch at a time)
          val cat = new ParquetCatalog(outDir)
          // only an ABSENT snapshot reads as empty; an unreadable one fails
          // the batch instead of silently restarting the profile
          val prev = cat.read(spark, "current") match {
            case None => spark.emptyDataset[FieldProfile]
            case Some(df) => df.as[FieldProfile]
              .filter(!col("fieldPath").isin(
                rows.select("fieldPath").as[String].collect().toSeq: _*))
          }
          cat.replace(prev.unionByName(rows).toDF(), "current")
          // keyed by batch id: a replayed batch rewrites its own rows
          cat.overwritePartitions(rows.withColumn("batch_id", lit(batchId)),
            "history", Seq("batch_id"))
        }
        rows.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
    updated.value
  }

  /** q40 — the stateful streaming profiler under the driver's oracle
    * gate, with a RESTART FROM CHECKPOINT inside the query: the q22
    * customer-doc corpus is split by `c_custkey % 2` into two file-source
    * drops; the first availableNow query lifecycle profiles drop 1 and
    * terminates, then a SECOND lifecycle (new streaming query, same
    * checkpoint) ingests only the new files and resumes the per-field
    * [[ProfBuf]] state from the state store. The projected per-field
    * counts cover ALL customers, so a restart that lost state — or
    * re-read drop 1 — fails the hash. The email nulls (custkey % 10 = 0)
    * all arrive in drop 2, so cross-lifecycle accumulation is observable
    * per-column, not just in totals. `position` is per-batch in streaming
    * (scaladoc above) and is not projected.
    */
  def q40StreamProfile(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q40").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val docs = graft.queries.Queries.t(spark, dir, "customer").select(
      col("c_custkey"),
      to_json(
        struct(
          col("c_name").as("name"),
          col("c_acctbal").as("balance"),
          struct(col("c_mktsegment").as("segment")).as("profile"),
          when(col("c_custkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(concat(lower(regexp_replace(col("c_name"), "#", "")),
              lit("@example.com"))).as("email")),
        Map("ignoreNullFields" -> "false")).as("doc"))
    // state-store sizing belongs to the job (q37 precedent): 4 stores for
    // a 5-key profile, not one per session shuffle partition
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      ParquetCatalog.writer(docs.filter(col("c_custkey") % 2 === 1)
        .select("doc")).mode(SaveMode.Append).parquet(in)
      runOnce(spark, in, out, ckpt) // lifecycle 1: odd custkeys
      ParquetCatalog.writer(docs.filter(col("c_custkey") % 2 === 0)
        .select("doc")).mode(SaveMode.Append).parquet(in)
      runOnce(spark, in, out, ckpt) // lifecycle 2: resumes from checkpoint
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val projected = spark.read.parquet(s"$out/current")
      .select(
        col("fieldPath").as("field_path"),
        col("fieldName").as("field_name"),
        col("parentPath").as("parent_path"),
        col("nestingLevel").as("nesting_level"),
        col("dataType").as("data_type"),
        col("confidenceScore").as("confidence_score"),
        col("semanticType").as("semantic_type"),
        col("isPii").as("is_pii"),
        col("totalCount").as("total_count"),
        col("nullCount").as("null_count"),
        col("nullPercentage").as("null_percentage"),
        col("isNullable").as("is_nullable"))
      .orderBy(col("field_path"))
    // The per-field profile is small (one row per field path): pin it on
    // the driver and rebuild the frame so the temp root — a full parquet
    // copy of the corpus + checkpoint state per invocation, which the
    // bench harness would otherwise accumulate across warm-up + attempts —
    // can be deleted before returning.
    val rows = projected.collect().toSeq
    val schema = projected.schema
    FileUtil.fullyDelete(new java.io.File(root))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  def main(args: Array[String]): Unit = {
    val Array(inputDir, outDir, checkpointDir) = args.take(3)
    val spark = Sessions.cli("graft-streaming-profile")
    val n = runOnce(spark, inputDir, outDir, checkpointDir)
    println(s"""{"profiles_updated":$n}""")
    spark.stop()
  }
}
