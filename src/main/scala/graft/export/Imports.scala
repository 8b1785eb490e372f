package graft.export

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog import (S21) — the reference's XLSX re-import
  * (`/root/reference/backend/src/services/import_service.py:34-351`)
  * over the engine's CSV sheet format: parse the 8-column data-dictionary
  * sheet back into field rows and land them in the catalog tables with
  * the reference's conflict modes.
  *
  * Conflict semantics (`import_service.py:140-158`): when the dictionary
  * already exists — `skip` returns without writing (the degenerate
  * left-anti), `fail` raises, `overwrite` replaces. One deliberate
  * divergence: versions here are immutable appends, so `overwrite` lands
  * the imported fields as a NEW version rather than mutating history.
  */
object Imports {

  /** Parse a [[Exports.dataDictionarySheet]] CSV back into field rows
    * (`import_service.py:240-351` rehydration): null % strips the
    * rendered '%', sample values un-join on ", ", PII flag back to
    * boolean, blank semantic types back to null.
    */
  def importCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        col("Field Path").as("fieldPath"),
        col("Data Type").as("dataType"),
        when(col("Semantic Type") === "" || col("Semantic Type").isNull, null)
          .otherwise(col("Semantic Type")).as("semanticType"),
        col("Description").as("description"),
        when(col("Sample Values").isNull, array().cast("array<string>"))
          .otherwise(split(col("Sample Values"), ", ")).as("sampleValues"),
        regexp_replace(col("Null %"), "%$", "").cast("double")
          .as("nullPercentage"),
        col("Cardinality").cast("long").as("distinctCount"),
        (col("PII Flag") === "Yes").as("isPii"))

  /** Parse a real `.xlsx` written by [[Exports.exportXlsx]] (or openpyxl)
    * back into the same field-row shape: S21's native path. Metadata
    * sheet key-values are returned alongside.
    */
  def importXlsx(spark: SparkSession,
      path: String): (DataFrame, Map[String, String]) = {
    val sheets = Xlsx.read(path).toMap
    val dd = sheets.getOrElse("Data Dictionary",
      throw new IllegalArgumentException("no 'Data Dictionary' sheet"))
    val meta = sheets.getOrElse("Metadata", Nil)
      .collect { case row if row.size >= 2 => row(0) -> row(1) }.toMap
    (parseSheet(spark, dd), meta)
  }

  /** Parse one data-dictionary sheet (header + rows, as written by
    * [[Exports.dataDictionarySheet]]) into field rows.
    */
  private def parseSheet(spark: SparkSession,
      rows: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    val header = rows.head
    val padded = rows.tail.map(_.padTo(header.size, ""))
    val df = padded.map {
      case Seq(fp, dt, st, desc, sv, np, card, pii, _*) =>
        (fp, dt, st, desc, sv, np, card, pii)
    }.toDF(header: _*)
    df.select(
      col("Field Path").as("fieldPath"),
      col("Data Type").as("dataType"),
      when(col("Semantic Type") === "", null)
        .otherwise(col("Semantic Type")).as("semanticType"),
      col("Description").as("description"),
      when(col("Sample Values") === "", array().cast("array<string>"))
        .otherwise(split(col("Sample Values"), ", ")).as("sampleValues"),
      regexp_replace(col("Null %"), "%$", "").cast("double")
        .as("nullPercentage"),
      col("Cardinality").cast("long").as("distinctCount"),
      (col("PII Flag") === "Yes").as("isPii"))
  }

  /** One imported dictionary's outcome. */
  final case class ImportResult(dictionary: String, fieldsImported: Long,
      imported: Boolean)

  /** S21 — workbook-format dispatch (`import_service.py:96-110`): a
    * workbook with a "Summary" sheet is a batch export — every other
    * sheet imports as one dictionary named by its sheet; a workbook with
    * "Data Dictionary" + "Metadata" sheets is a single export. Anything
    * else is invalid. The reference stubs the batch branch with a
    * warning per sheet (`import_service.py:395-400` "not fully
    * implemented yet"); since our batch sheets are the standard
    * data-dictionary projection, the engine completes the round trip.
    */
  def importWorkbook(spark: SparkSession, path: String, outDir: String,
      conflictMode: String = "skip"): Seq[ImportResult] = {
    val sheets = Xlsx.read(path)
    val names = sheets.map(_._1)
    if (names.contains("Summary")) {
      sheets.filter(_._1 != "Summary").map { case (name, rows) =>
        val fields = parseSheet(spark, rows)
        val ok = importInto(spark, outDir, name, fields, conflictMode)
        ImportResult(name, if (ok) fields.count() else 0L, ok)
      }
    } else if (names.contains("Data Dictionary") && names.contains("Metadata")) {
      val (fields, meta) = importXlsx(spark, path)
      val dict = meta.getOrElse("Dictionary Name", "Imported Dictionary")
      val ok = importInto(spark, outDir, dict, fields, conflictMode)
      Seq(ImportResult(dict, if (ok) fields.count() else 0L, ok))
    } else {
      throw new IllegalArgumentException(
        "Invalid export file format. Expected 'Data Dictionary' and " +
          "'Metadata' sheets or a 'Summary' sheet for batch exports.")
    }
  }

  /** Conform parsed sheet rows to the full [[graft.model.FieldProfile]]
    * column set, so imported versions land in the SAME `fields/` table the
    * profiler writes and `ProfileJob.readFields` sees them (the r1 split
    * `fields_imported` table left imported versions invisible). Structural
    * columns (fieldName/parentPath/nestingLevel) are derived from the
    * path; run-only statistics the sheet doesn't carry (counts, numeric
    * stats) are zero/null, like the reference's re-imported Field rows
    * (`import_service.py:234-280` populates only the sheet columns).
    * `position` preserves sheet order: sheets are driver-scale (≤10k
    * rows), so a coalesce(1) makes the monotonic id dense in row order.
    */
  def conformToProfile(fields: DataFrame): DataFrame =
    fields.coalesce(1).select(
      col("fieldPath"),
      element_at(split(col("fieldPath"), "\\."), -1).as("fieldName"),
      when(col("fieldPath").contains("."),
        regexp_replace(col("fieldPath"), "\\.[^.]+$", ""))
        .otherwise("").as("parentPath"),
      (size(split(col("fieldPath"), "\\.")) - 1).as("nestingLevel"),
      col("dataType"),
      lit(100.0).as("confidenceScore"),
      map(col("dataType"), lit(0L)).as("typesSeen"),
      (col("dataType") === "array").as("isArray"),
      lit(null).cast("string").as("arrayItemType"),
      col("sampleValues"),
      lit(0L).as("totalCount"),
      lit(0L).as("nullCount"),
      coalesce(col("nullPercentage"), lit(0.0)).as("nullPercentage"),
      coalesce(col("distinctCount"), lit(0L)).as("distinctCount"),
      lit(0.0).as("cardinalityRatio"),
      (coalesce(col("nullPercentage"), lit(0.0)) > 0.0).as("isNullable"),
      col("semanticType"),
      col("isPii"),
      lit(null).cast("string").as("piiType"),
      lit(null).cast("double").as("minValue"),
      lit(null).cast("double").as("maxValue"),
      lit(null).cast("double").as("meanValue"),
      lit(null).cast("double").as("medianValue"),
      lit(null).cast("double").as("stdDev"),
      lit(null).cast("double").as("percentile25"),
      lit(null).cast("double").as("percentile75"),
      monotonically_increasing_id().cast("int").as("position"))

  /** Land imported field rows into the catalog tables under
    * `conflictMode` ∈ {skip, overwrite, fail}. Returns true if a write
    * happened (not for a sheet without field rows).
    *
    * `ProfileJob.commitVersion` lands the rows in the SHARED `fields/`
    * table, so the imported version is first-class (schema hash
    * "imported"); imported descriptions become annotation rows — the
    * reference creates an Annotation per described field on import
    * (`import_service.py:204-216`) — landed before the version marker.
    */
  def importInto(spark: SparkSession, outDir: String, dict: String,
      fields: DataFrame, conflictMode: String = "skip"): Boolean = {
    if (graft.jobs.ProfileJob.listed(spark, outDir, dict)) conflictMode match {
      case "skip" => return false
      case "fail" =>
        throw new IllegalStateException(s"dictionary '$dict' already exists")
      case "overwrite" => // fall through: new immutable version
      case m => throw new IllegalArgumentException(s"unknown conflict mode: $m")
    }

    val described = fields.filter(
      col("description").isNotNull && col("description") =!= "")
    def annotate(version: Int): Unit = if (!described.isEmpty) {
      graft.catalog.Annotations.append(spark, outDir, described.select(
        lit(dict).as("dictionary"),
        lit(version).as("version_number"),
        col("fieldPath").as("field_path"),
        // zero-padded version: annotation_id is the lexicographic
        // tie-break for equal created_at in Annotations.latest, and
        // "import-v9-x" > "import-v10-x" would make the older generation
        // win once versions reach double digits
        concat(lit(f"import-v$version%06d-"), col("fieldPath"))
          .as("annotation_id"),
        col("description"),
        lit(null).cast("string").as("business_name"),
        lit(false).as("is_ai_generated"),
        lit(null).cast("string").as("ai_model_version"),
        lit(null).cast("string").as("business_owner"),
        // fixed import epoch keeps the artifact deterministic (the
        // reference stamps wall-clock now(); versions disambiguate here)
        lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
          .as("created_at"),
        lit("import").as("created_by")))
    }

    graft.jobs.ProfileJob.commitVersion(spark, outDir, dict,
      conformToProfile(fields), lit("imported"), annotate).nonEmpty
  }
}
