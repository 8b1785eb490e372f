package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.model.FieldProfile

/** The schema-profiling engine — the reference's main capability
  * (`POST /api/v1/dictionaries`, `services/dictionary_service.py:82-287`)
  * re-expressed as one Spark job:
  *
  *   Dataset[(json, recordId)]
  *     → flatMap JsonWalk (U7 generator, document order preserved)
  *     → groupByKey(fieldPath).agg(FieldAccumulator)   // ONE shuffle
  *     → map: TypeInference / SemanticDetector / PiiDetector / PandasStats
  *     → window row_number for position (fields ≪ rows, trivially cheap)
  *
  * Scale shape: the only wide dependency is the groupBy on field path; the
  * accumulator is bounded (type counts over a closed tag set, ≤10 retained
  * samples, tiny array-tag set), so partial aggregation combines map-side
  * and the shuffle carries O(#distinct paths × #partitions) tiny buffers —
  * this survives a 100× scale-up untouched. The per-field finisher runs on
  * the aggregated rows (thousands at most, reference caps at 10k fields).
  */
object Profiler {

  /** One observation keyed for distributed arrival order:
    * (recordId, seq) is the global arrival key (recordId from
    * `monotonically_increasing_id`, which preserves file order per input
    * split — the distributed stand-in for the reference's sequential
    * record order).
    */
  final case class RawObs(
      recordId: Long,
      seq: Int,
      fieldPath: String,
      fieldName: String,
      parentPath: String,
      nestingLevel: Int,
      typeTag: String,
      value: String,
      arrayItemTags: Seq[String],
      arrayMark: Boolean = false)

  /** One retained sample candidate: the value plus its earliest-known
    * arrival key and the type tag observed at that arrival.
    */
  final case class SampleEnt(rec: Long, seq: Int, tag: String, value: String)

  /** Mirror of the reference's `FieldMetadata` accumulator
    * (`json_parser.py:151-207`), associatively mergeable.
    *
    * Sample-bound invariant: the final answer is the 10 distinct values
    * with globally smallest first-occurrence keys; each partial buffer
    * keeps per-value minimum keys and prunes to the 10 smallest whenever
    * it exceeds [[PruneAt]] — any pruned value already has ≥10 values with
    * strictly smaller keys in that buffer, so it can never re-enter the
    * global top-10 with a key from this buffer. Merging takes per-value
    * minima, preserving the invariant.
    */
  final case class ProfBuf(
      fieldName: String,
      parentPath: String,
      nestingLevel: Int,
      types: Map[String, Long],
      nullCount: Long,
      totalCount: Long,
      isArray: Boolean,
      arrayItemTags: Seq[String],
      samples: Seq[SampleEnt],
      minRec: Long,
      minSeq: Int)

  val MaxSamples = 10
  private val PruneAt = 24

  private def keyLt(r1: Long, s1: Int, r2: Long, s2: Int): Boolean =
    r1 < r2 || (r1 == r2 && s1 < s2)

  private def addSample(samples: Seq[SampleEnt], e: SampleEnt): Seq[SampleEnt] = {
    val idx = samples.indexWhere(_.value == e.value)
    val merged =
      if (idx >= 0) {
        val old = samples(idx)
        if (keyLt(e.rec, e.seq, old.rec, old.seq)) samples.updated(idx, e)
        else samples
      } else samples :+ e
    if (merged.size > PruneAt)
      merged.sortBy(s => (s.rec, s.seq)).take(MaxSamples)
    else merged
  }

  private def mergeSamples(a: Seq[SampleEnt], b: Seq[SampleEnt]): Seq[SampleEnt] =
    b.foldLeft(a)(addSample)

  /** Tags whose values the reference samples (`observe_value`): everything
    * except null (counted), array, object (structural).
    */
  private def sampled(tag: String): Boolean =
    tag != "null" && tag != "array" && tag != "object"

  private def mergeCounts(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }

  /** The single-shuffle field accumulator (SURVEY.md §2.9 U2, generalized
    * to the full FieldMetadata state).
    */
  object FieldAccumulator extends Aggregator[RawObs, ProfBuf, ProfBuf] {
    def zero: ProfBuf =
      ProfBuf(null, null, 0, Map.empty, 0L, 0L, isArray = false, Nil, Nil,
        Long.MaxValue, Int.MaxValue)

    def reduce(b: ProfBuf, o: RawObs): ProfBuf = {
      val samples =
        if (sampled(o.typeTag) && o.value != null)
          addSample(b.samples, SampleEnt(o.recordId, o.seq, o.typeTag, o.value))
        else b.samples
      val (mr, ms) =
        if (keyLt(o.recordId, o.seq, b.minRec, b.minSeq)) (o.recordId, o.seq)
        else (b.minRec, b.minSeq)
      ProfBuf(
        fieldName = if (b.fieldName == null) o.fieldName else b.fieldName,
        parentPath = if (b.fieldName == null) o.parentPath else b.parentPath,
        nestingLevel = if (b.fieldName == null) o.nestingLevel else b.nestingLevel,
        types = b.types.updated(o.typeTag, b.types.getOrElse(o.typeTag, 0L) + 1L),
        nullCount = b.nullCount + (if (o.typeTag == "null") 1L else 0L),
        totalCount = b.totalCount + 1L,
        isArray = b.isArray || o.typeTag == "array" || o.arrayMark,
        arrayItemTags = (b.arrayItemTags ++ o.arrayItemTags).distinct,
        samples = samples,
        minRec = mr, minSeq = ms)
    }

    def merge(a: ProfBuf, b: ProfBuf): ProfBuf = {
      val (mr, ms) =
        if (keyLt(a.minRec, a.minSeq, b.minRec, b.minSeq)) (a.minRec, a.minSeq)
        else (b.minRec, b.minSeq)
      ProfBuf(
        fieldName = if (a.fieldName == null) b.fieldName else a.fieldName,
        parentPath = if (a.fieldName == null) b.parentPath else a.parentPath,
        nestingLevel = if (a.fieldName == null) b.nestingLevel else a.nestingLevel,
        types = mergeCounts(a.types, b.types),
        nullCount = a.nullCount + b.nullCount,
        totalCount = a.totalCount + b.totalCount,
        isArray = a.isArray || b.isArray,
        arrayItemTags = (a.arrayItemTags ++ b.arrayItemTags).distinct,
        samples = mergeSamples(a.samples, b.samples),
        minRec = mr, minSeq = ms)
    }

    def finish(r: ProfBuf): ProfBuf = r
    def bufferEncoder: Encoder[ProfBuf] = Encoders.product[ProfBuf]
    def outputEncoder: Encoder[ProfBuf] = Encoders.product[ProfBuf]
  }

  /** Flatten a JSON column into per-field observations. `maxRecords > 0`
    * mirrors the reference's `max_samples` record cap
    * (`json_parser.py:22,76-77`); 0 profiles everything (the Spark-native
    * default — sampling is a cost knob here, not a memory necessity).
    */
  /** Parallelism guard for the generator stage: the per-record walk is
    * CPU-bound, so a small-but-dense input (one parquet file ≪
    * maxPartitionBytes) would otherwise run the whole walk on ONE task.
    * The arrival id is assigned BEFORE the spread, so the (rid, seq)
    * order keys — and therefore sample arrival order and positions — are
    * unaffected. The shuffled payload is just the raw records; at real
    * scale (inputs already ≥ cores partitions) this is a no-op.
    */
  private[graft] def spread[T](spark: SparkSession, ds: Dataset[T],
      limited: Boolean = false): Dataset[T] = {
    val target = spark.sparkContext.defaultParallelism
    // A record cap (df.limit upstream) collapses the executed plan onto a
    // few partitions regardless of file size, so the file-index estimate
    // below would overcount and skip the repartition — leaving the
    // CPU-bound JSON walk under-parallel. Short-circuit to repartition.
    if (limited) return ds.repartition(target)
    // Estimate scan parallelism from the logical plan's file index —
    // building the physical RDD (toRdd) just to read getNumPartitions
    // would pay plan-to-RDD conversion on every profile invocation.
    // File relations split at maxPartitionBytes, so bytes/maxPartitionBytes
    // bounds the scan's task count; non-file leaves (in-memory test data,
    // driver-built frames) are driver-local by construction → spread them.
    val maxPart = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")))
    val est = ds.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            math.max(1L, (f.location.sizeInBytes + maxPart - 1) / maxPart)
          case _ => 1L
        }
      case _ => 1L
    }.sum
    if (est < target) ds.repartition(target) else ds
  }

  def observations(spark: SparkSession, df: DataFrame, jsonCol: String,
      mongo: Boolean = false, maxRecords: Long = 0L): Dataset[RawObs] = {
    import spark.implicits._
    val capped = if (maxRecords > 0) df.limit(maxRecords.toInt) else df
    val keyed = capped.select(col(jsonCol).cast("string"))
      .withColumn("_rid", monotonically_increasing_id())
      .as[(String, Long)]
    spread(spark, keyed, limited = maxRecords > 0)
      .flatMap { case (json, rid) =>
        if (json == null) Iterator.empty
        else JsonWalk.walk(json, mongo).iterator.map(o =>
          RawObs(rid, o.seq, o.fieldPath, o.fieldName, o.parentPath,
            o.nestingLevel, o.typeTag, o.value, o.arrayItemTags, o.arrayMark))
      }
  }

  /** Apply the reference's per-field analysis pipeline
    * (`dictionary_service.py:289-379`: TypeInferrer → SemanticTypeDetector
    * → PIIDetector → QualityAnalyzer) to one aggregated buffer.
    * `position` is attached afterwards (first-seen order).
    */
  def analyze(path: String, b: ProfBuf): FieldProfile = {
    val (dataType, confidence) = TypeInference.inferType(b.types)
    val ordered = b.samples.sortBy(s => (s.rec, s.seq)).take(MaxSamples)
    val tagged = ordered.map(s => (s.tag, s.value))
    val semanticType = SemanticDetector.detect(b.fieldName, tagged, dataType)
    val (isPii, piiType) = PiiDetector.detectPii(b.fieldName, semanticType, tagged)
    val sampleValues = ordered.map(_.value)
    // QualityAnalyzer runs over the ≤10 unique samples (quality_analyzer.py:17-55)
    val distinct = sampleValues.distinct.size.toLong
    val stats =
      if (dataType == "integer" || dataType == "float")
        PandasStats.numericStats(sampleValues)
      else None
    val nullPct =
      if (b.totalCount > 0) b.nullCount.toDouble / b.totalCount * 100.0 else 0.0
    FieldProfile(
      fieldPath = path,
      fieldName = b.fieldName,
      parentPath = b.parentPath,
      nestingLevel = b.nestingLevel,
      dataType = dataType,
      confidenceScore = confidence,
      typesSeen = b.types,
      isArray = b.isArray,
      arrayItemType =
        if (b.isArray && b.arrayItemTags.nonEmpty)
          TypeInference.inferArrayItemType(b.arrayItemTags)
        else null,
      sampleValues = sampleValues,
      totalCount = b.totalCount,
      nullCount = b.nullCount,
      nullPercentage = nullPct,
      distinctCount = distinct,
      cardinalityRatio =
        if (sampleValues.nonEmpty) distinct.toDouble / sampleValues.size else 0.0,
      isNullable = nullPct > 0.0,
      semanticType = semanticType,
      isPii = isPii,
      piiType = piiType,
      minValue = stats.map(_.min),
      maxValue = stats.map(_.max),
      meanValue = stats.map(_.mean),
      medianValue = stats.map(_.median),
      stdDev = stats.flatMap(_.stdDev),
      percentile25 = stats.map(_.p25),
      percentile75 = stats.map(_.p75),
      position = 0)
  }

  /** XML variant of [[observations]]: same generator contract, fed by
    * [[XmlWalk]] (S7-S10 semantics; one row may hold a whole collection).
    */
  def xmlObservations(spark: SparkSession, df: DataFrame, xmlCol: String,
      maxRecords: Long = 0L): Dataset[RawObs] = {
    import spark.implicits._
    val capped = if (maxRecords > 0) df.limit(maxRecords.toInt) else df
    val keyed = capped.select(col(xmlCol).cast("string"))
      .withColumn("_rid", monotonically_increasing_id())
      .as[(String, Long)]
    spread(spark, keyed)
      .flatMap { case (xml, rid) =>
        if (xml == null) Iterator.empty
        else XmlWalk.walk(xml).iterator.map(o =>
          RawObs(rid, o.seq, o.fieldPath, o.fieldName, o.parentPath,
            o.nestingLevel, o.typeTag, o.value, o.arrayItemTags, o.arrayMark))
      }
  }

  /** XML profile job — same aggregation/analysis path as [[profile]]. */
  def profileXml(spark: SparkSession, df: DataFrame, xmlCol: String,
      maxRecords: Long = 0L): Dataset[FieldProfile] =
    profileObs(spark, xmlObservations(spark, df, xmlCol, maxRecords))

  /** Full profile job: JSON column → `Dataset[FieldProfile]` with
    * `position` = first-seen enumeration order (W3; the reference's
    * `enumerate` at `dictionary_service.py:220-226`).
    */
  def profile(spark: SparkSession, df: DataFrame, jsonCol: String,
      mongo: Boolean = false, maxRecords: Long = 0L): Dataset[FieldProfile] = {
    val obs = observations(spark, df, jsonCol, mongo, maxRecords)
    profileObs(spark, obs)
  }

  /** Shared tail: observations → single-shuffle accumulate → analyze →
    * position.
    */
  def profileObs(spark: SparkSession,
      obs: Dataset[RawObs]): Dataset[FieldProfile] = {
    import spark.implicits._
    val aggregated = obs.groupByKey(_.fieldPath)
      .agg(FieldAccumulator.toColumn.name("buf"))
    val analyzed = aggregated.map { case (path, buf) =>
      (buf.minRec, buf.minSeq, analyze(path, buf))
    }.toDF("minRec", "minSeq", "p")
    // position = first-seen enumeration: the rows here are aggregated FIELD
    // rows (≤ thousands; the reference caps schemas at 10k fields), so a
    // single sorted partition + zip assigns it without a global
    // Window.orderBy — same shuffle-to-one execution WindowExec would
    // pick, minus its per-run performance-warning storm. repartition (a
    // real exchange), NOT coalesce: coalesce would narrow the upstream
    // aggregation itself into one task.
    analyzed
      .repartition(1)
      .sortWithinPartitions(col("minRec"), col("minSeq"), col("p.fieldPath"))
      .select(col("p.*"))
      .as[FieldProfile]
      .mapPartitions(_.zipWithIndex.map { case (p, i) =>
        p.copy(position = i)
      })
  }

  /** Schema hash (A7; `dictionary_service.py:454-474`): sha256 over
    * path-sorted `path:type` signatures. The reference hashes
    * `types_seen[0]` of an unordered Python set (run-nondeterministic);
    * we hash the inferred primary type — deterministic by construction
    * (divergence documented in SURVEY.md §7.4).
    */
  def schemaHash(profiles: Dataset[FieldProfile]): String =
    profiles.agg(schemaHashOf).head().getString(0)

  /** [[schemaHash]] as one aggregate Column, for an observed write. */
  val schemaHashOf: Column = sha2(concat_ws("|", sort_array(collect_list(
    concat_ws(":", col("fieldPath"), col("dataType"))))), 256)
}
