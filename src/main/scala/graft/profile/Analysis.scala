package graft.profile

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FieldProfile

/** Catalog analysis rollups — `AnalysisService`
  * (`/root/reference/backend/src/services/analysis_service.py:117-230,
  * 670-715`, SURVEY.md §2.4 A4/A6) over `Dataset[FieldProfile]`.
  */
object Analysis {

  /** A4 — data-type distribution. */
  def typeDistribution(profiles: Dataset[FieldProfile]): DataFrame =
    profiles.groupBy(col("dataType")).agg(count(lit(1)).as("n_fields"))
      .orderBy(col("dataType"))

  /** A4/A6 — whole-catalog statistics: field count, PII count, average
    * null %, nullable/array counts (`analysis_service.py:670-715`).
    */
  def fieldStatistics(profiles: Dataset[FieldProfile]): DataFrame =
    profiles.agg(
      count(lit(1)).as("total_fields"),
      sum(when(col("isPii"), 1L).otherwise(0L)).as("pii_fields"),
      avg(col("nullPercentage")).as("avg_null_percentage"),
      sum(when(col("isNullable"), 1L).otherwise(0L)).as("nullable_fields"),
      sum(when(col("isArray"), 1L).otherwise(0L)).as("array_fields"),
      max(col("nestingLevel")).as("max_nesting_level"))

  /** A1/A6 — recalculate quality metrics for every field FROM ITS STORED
    * SAMPLE VALUES (`analysis_service.py:496-630` →
    * `quality_analyzer.analyze_field`): counts/distinct/cardinality over
    * the samples, numeric stats through the pandas-parity analyzer
    * (to_numeric-coerce semantics), fields with no samples left
    * untouched (the reference's empty-metrics early return). Used when
    * the analyzer changes after ingest — a narrow map, no shuffle.
    */
  def recalculateQualityMetrics(
      profiles: Dataset[FieldProfile]): Dataset[FieldProfile] = {
    val spark = profiles.sparkSession
    import spark.implicits._
    profiles.map { p =>
      val samples = p.sampleValues
      if (samples == null || samples.isEmpty) p
      else {
        val total = samples.size.toLong
        val nulls = samples.count(_ == null).toLong
        val distinct = samples.distinct.size.toLong
        val stats =
          if (p.dataType == "integer" || p.dataType == "float")
            PandasStats.numericStats(samples)
          else None
        p.copy(
          totalCount = total,
          nullCount = nulls,
          nullPercentage = nulls.toDouble / total * 100.0,
          distinctCount = distinct,
          cardinalityRatio = distinct.toDouble / total,
          minValue = stats.map(_.min),
          maxValue = stats.map(_.max),
          meanValue = stats.map(_.mean),
          medianValue = stats.map(_.median),
          stdDev = stats.flatMap(_.stdDev),
          percentile25 = stats.map(_.p25),
          percentile75 = stats.map(_.p75))
      }
    }
  }

  /** S5 — MongoDB Extended JSON format sniff
    * (`services/dictionary_service.py:476-505`): any Mongo type marker in
    * the first 8KB of content ⇒ route to the Mongo walker.
    */
  def sniffMongo(df: DataFrame, jsonCol: String): org.apache.spark.sql.Column = {
    val head = substring(col(jsonCol), 1, 8192)
    Seq("\"$oid\"", "\"$date\"", "\"$numberLong\"", "\"$numberDecimal\"", "\"$binary\"")
      .map(m => head.contains(m)).reduce(_ || _)
  }

  /** S5/S6 — profile with per-table format auto-detect: if ANY record in
    * the (sampled) input carries Mongo markers, the whole table is walked
    * in Mongo mode — the table-level analogue of the reference's per-file
    * sniff.
    */
  def profileAutoDetect(spark: SparkSession, df: DataFrame, jsonCol: String,
      maxRecords: Long = 0L): Dataset[FieldProfile] = {
    val isMongo = df.limit(100)
      .agg(coalesce(max(when(sniffMongo(df, jsonCol), 1).otherwise(0)), lit(0)))
      .head().getInt(0) == 1
    Profiler.profile(spark, df, jsonCol, mongo = isMongo, maxRecords)
  }
}
