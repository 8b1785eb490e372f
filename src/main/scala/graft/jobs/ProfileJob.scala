package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.ParquetCatalog
import graft.model.FieldProfile
import graft.profile.{Analysis, Profiler}

/** The catalog-persistence workflow — the reference's
  * `POST /api/v1/dictionaries` + `POST /{id}/versions`
  * (`services/dictionary_service.py:82-287`,
  * `services/version_service.py:60-193`; SURVEY.md §3.1, S22) as Parquet
  * tables with Iceberg-shaped append semantics:
  *
  *   out/dictionaries   (dictionary, created_version)
  *   out/versions       (dictionary, version_number, schema_hash, n_fields)
  *   out/fields         partitioned by (dictionary, version_number)
  *
  * Each run appends version N+1 for the dictionary (the reference's
  * re-profile flow) through [[commitVersion]]: the fields write lands
  * before the version row is appended, so the version append is the
  * commit marker (a crashed run leaves no visible version — same protocol
  * as QualityFilterJob).
  */
object ProfileJob {

  /** P11 — ingest-time validator (`dictionary_service.py:127-132`,
    * `core/config.py:85`): oversize payloads are rejected, counted, and
    * excluded rather than failing the job.
    */
  val MaxContentBytes: Long = 500L * 1024 * 1024

  /** (first, latest) committed version of `dict`, (0, 0) when none (W1):
    * `versions` holds one row per version, so `dict`'s rows are collected.
    */
  private def versionRange(spark: SparkSession, cat: ParquetCatalog,
      dict: String): (Int, Int) = {
    val versions = cat.read(spark, "versions").toSeq.flatMap(
      _.filter(col("dictionary") === dict).select(col("version_number"))
        .collect().map(_.getInt(0)))
    if (versions.isEmpty) (0, 0) else (versions.min, versions.max)
  }

  def latestVersion(spark: SparkSession, outDir: String, dict: String): Int =
    versionRange(spark, new ParquetCatalog(outDir), dict)._2

  /** True when the `dictionaries` table holds a row for `dict`. */
  def listed(spark: SparkSession, outDir: String, dict: String): Boolean =
    new ParquetCatalog(outDir).read(spark, "dictionaries")
      .exists(!_.filter(col("dictionary") === dict).isEmpty)

  /** THE dictionary version commit: `fields` (FieldProfile columns) land
    * as version latest+1 of `dict` in one pass — the `fields` write
    * observes the row count and `hash`, the `versions` marker is appended
    * from them. `beforeMarker(version)` lands data riding with the version.
    * A missing `dictionaries` row is appended with the first committed
    * version, so a crash before it heals on the next commit. Returns
    * (version, hash), or None, committing nothing, when `fields` is empty.
    */
  def commitVersion(spark: SparkSession, outDir: String, dict: String,
      fields: DataFrame, hash: Column = Profiler.schemaHashOf,
      beforeMarker: Int => Unit = _ => ()): Option[(Int, String)] = {
    val cat = new ParquetCatalog(outDir)
    val (first, latest) = versionRange(spark, cat, dict)
    val version = latest + 1
    val observed = Observation()
    cat.overwritePartitions(
      fields.observe(observed, count(lit(1)).as("n_fields"),
        hash.as("schema_hash"))
        .withColumn("dictionary", lit(dict))
        .withColumn("version_number", lit(version)),
      "fields", Seq("dictionary", "version_number"))
    val nFields = observed.get("n_fields").asInstanceOf[Long]
    if (nFields == 0) return None
    val schemaHash = observed.get("schema_hash").asInstanceOf[String]
    beforeMarker(version)
    import spark.implicits._
    cat.appendMarker(
      Seq((dict, version, schemaHash, nFields))
        .toDF("dictionary", "version_number", "schema_hash", "n_fields"),
      "versions")
    if (!listed(spark, outDir, dict))
      cat.appendMarker(
        Seq((dict, if (first > 0) first else version))
          .toDF("dictionary", "created_version"),
        "dictionaries")
    Some((version, schemaHash))
  }

  private def committed(dict: String, c: Option[(Int, String)]): (Int, String) =
    c.getOrElse(throw new IllegalArgumentException(
      s"dictionary '$dict': the input yields no field, nothing committed"))

  /** Profile `jsonCol` of `input` into version latest+1 of `dict`.
    * Returns (versionNumber, schemaHash, fields): the committed rows, read
    * back. Throws IllegalArgumentException when the input yields no field.
    */
  def run(spark: SparkSession, input: DataFrame, jsonCol: String,
      outDir: String, dict: String,
      maxRecords: Long = 0L): (Int, String, Dataset[FieldProfile]) = {
    val valid = input.filter(
      length(col(jsonCol)).cast("long") <= MaxContentBytes)
    val profiles = Analysis.profileAutoDetect(spark, valid, jsonCol, maxRecords)
    val (version, hash) =
      committed(dict, commitVersion(spark, outDir, dict, profiles.toDF()))
    (version, hash, readFields(spark, outDir, dict, version))
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
    committed(dict, commitVersion(spark, outDir, dict, recalced.toDF()))._1
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
