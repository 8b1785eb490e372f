package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FieldProfile
import graft.profile.{Analysis, Profiler}

/** The catalog-persistence workflow — the reference's
  * `POST /api/v1/dictionaries` + `POST /{id}/versions`
  * (`services/dictionary_service.py:82-287`,
  * `services/version_service.py:60-193`; SURVEY.md §3.1, S22) as Parquet
  * tables with Iceberg-shaped append semantics:
  *
  *   out/dictionaries   (dictionary, created_version, record_count)
  *   out/versions       (dictionary, version_number, schema_hash, n_fields)
  *   out/fields         partitioned by (dictionary, version_number)
  *
  * Each run appends version N+1 for the dictionary (the reference's
  * re-profile flow); the fields write lands before the version row is
  * appended, so the version append is the commit marker (a crashed run
  * leaves no visible version — same protocol as QualityFilterJob).
  */
object ProfileJob {

  /** P11 — ingest-time validator (`dictionary_service.py:127-132`,
    * `core/config.py:85`): oversize payloads are rejected, counted, and
    * excluded rather than failing the job.
    */
  val MaxContentBytes: Long = 500L * 1024 * 1024

  def latestVersion(spark: SparkSession, outDir: String, dict: String): Int =
    new graft.catalog.ParquetCatalog(outDir).read(spark, "versions") match {
      case None => 0
      case Some(versions) =>
        // W1: max version per dictionary
        versions.filter(col("dictionary") === dict)
          .agg(coalesce(max(col("version_number")), lit(0))).head().getInt(0)
    }

  /** Profile `jsonCol` of `input` into version latest+1 of `dict`.
    * Returns (versionNumber, schemaHash, fields).
    */
  def run(spark: SparkSession, input: DataFrame, jsonCol: String,
      outDir: String, dict: String,
      maxRecords: Long = 0L): (Int, String, Dataset[FieldProfile]) = {
    val valid = input.filter(
      length(col(jsonCol)).cast("long") <= MaxContentBytes)
    val profiles = Analysis.profileAutoDetect(spark, valid, jsonCol, maxRecords)
      .cache()
    val hash = Profiler.schemaHash(profiles)
    val version = latestVersion(spark, outDir, dict) + 1

    val cat = new graft.catalog.ParquetCatalog(outDir)
    cat.overwritePartitions(
      profiles.toDF()
        .withColumn("dictionary", lit(dict))
        .withColumn("version_number", lit(version)),
      "fields", Seq("dictionary", "version_number"))

    val spark2 = spark
    import spark2.implicits._
    val nFields = profiles.count()
    // commit marker: version row appended only after fields landed
    cat.appendMarker(
      Seq((dict, version, hash, nFields))
        .toDF("dictionary", "version_number", "schema_hash", "n_fields"),
      "versions")
    if (version == 1) {
      cat.appendMarker(
        Seq((dict, 1)).toDF("dictionary", "created_version"), "dictionaries")
    }
    val out = (version, hash, profiles)
    out
  }

  /** Recalculate quality metrics for the LATEST version of `dict` from
    * its stored sample values (`analysis_service.py:496-630` — "when the
    * quality analyzer has been updated") and commit the result as version
    * N+1. The reference updates rows in place; versions here are
    * immutable appends (same documented divergence as imports), so the
    * recalculation is itself an auditable version. Returns the new
    * version number.
    */
  def recalculate(spark: SparkSession, outDir: String, dict: String): Int = {
    val latest = latestVersion(spark, outDir, dict)
    require(latest > 0, s"dictionary '$dict' has no committed version")
    val recalced =
      Analysis.recalculateQualityMetrics(readFields(spark, outDir, dict, latest))
        .cache()
    val hash = Profiler.schemaHash(recalced)
    val version = latest + 1
    val cat = new graft.catalog.ParquetCatalog(outDir)
    cat.overwritePartitions(
      recalced.toDF()
        .withColumn("dictionary", lit(dict))
        .withColumn("version_number", lit(version)),
      "fields", Seq("dictionary", "version_number"))
    val spark2 = spark
    import spark2.implicits._
    cat.appendMarker(
      Seq((dict, version, hash, recalced.count()))
        .toDF("dictionary", "version_number", "schema_hash", "n_fields"),
      "versions")
    version
  }

  /** Read one version's fields back as typed profiles (J2-shaped scoped
    * read; partition pruning keeps this a single-directory scan).
    */
  def readFields(spark: SparkSession, outDir: String, dict: String,
      version: Int): Dataset[FieldProfile] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/fields")
      .filter(col("dictionary") === dict && col("version_number") === version)
      .drop("dictionary", "version_number")
      .as[FieldProfile]
  }

  def main(args: Array[String]): Unit = {
    val Array(inputPath, jsonCol, outDir, dict) = args.take(4)
    val spark = Sessions.cli("graft-profile")
    val input = spark.read.parquet(inputPath)
    val (version, hash, profiles) = run(spark, input, jsonCol, outDir, dict)
    println(s"""{"dictionary":"$dict","version":$version,"schema_hash":"$hash","fields":${profiles.count()}}""")
    spark.stop()
  }
}
