package graft.export

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.catalog.ParquetCatalog
import graft.model.FieldProfile

/** Export surface — the reference's presentation operators (SURVEY.md
  * §2.8) re-expressed as ordered projections + `to_json` assembly. The
  * data plane is a plain `Dataset`; sheet styling (fills, borders) is
  * presentation-only and out of the data plane.
  */
object Exports {

  /** Python `str.title()` parity (U4) — `initcap` differs: Python
    * uppercases the letter after ANY non-alpha (digits included:
    * "a1b" → "A1B"), `initcap` only after whitespace. Used by the
    * fallback business name (`ai_generator.py:525-533`).
    */
  def pyTitle(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var prevAlpha = false
    s.foreach { c =>
      if (c.isLetter) {
        sb.append(if (prevAlpha) c.toLower else c.toUpper)
        prevAlpha = true
      } else {
        sb.append(c)
        prevAlpha = false
      }
    }
    sb.toString
  }

  private[graft] val pyTitleUdf = udf(pyTitle _)

  /** The J3 annotation join; fields without an annotation (or every field,
    * with `None`) get the deterministic fallback business name +
    * description (`ai_generator.py:525-533`), the engine's network-free
    * stand-in for the reference's AI annotation path.
    */
  private def annotated(profiles: DataFrame,
      anns: Option[DataFrame]): DataFrame = {
    import graft.catalog.Annotations
    Annotations.joinProfiles(profiles,
      anns.getOrElse(Annotations.empty(profiles.sparkSession)))
  }

  /** E1 — the Excel "Data Dictionary" sheet projection, exact column
    * order and rendering (`excel_exporter.py:58-67,138-173`): Field Path,
    * Data Type, Semantic Type, Description, Sample Values (first 5,
    * comma-joined), Null % (1 decimal + '%'), Cardinality
    * (= distinct_count), PII Flag Yes/No. Ordered by position.
    * Description comes from the latest annotation when one exists
    * (J3/W2), else the deterministic fallback.
    */
  /** The exact 8-column sheet projection (`excel_exporter.py:58-67`). */
  private val sheetColumns: Seq[Column] = Seq(
    col("fieldPath").as("Field Path"),
    col("dataType").as("Data Type"),
    coalesce(col("semanticType"), lit("")).as("Semantic Type"),
    col("description").as("Description"),
    concat_ws(", ", slice(col("sampleValues"), 1, 5)).as("Sample Values"),
    concat(format_number(col("nullPercentage"), 1), lit("%")).as("Null %"),
    col("distinctCount").as("Cardinality"),
    when(col("isPii"), "Yes").otherwise("No").as("PII Flag"))

  def dataDictionarySheet(profiles: Dataset[FieldProfile],
      annotations: Option[DataFrame] = None): DataFrame =
    annotated(profiles.toDF(), annotations)
      .orderBy(col("position"))
      .select(sheetColumns: _*)

  /** E2 — the "Metadata" sheet key-values (`excel_exporter.py:277-310`):
    * a small summary map computed from the profile set.
    */
  def metadataSheet(profiles: Dataset[FieldProfile], name: String,
      schemaHash: String): Seq[(String, String)] = {
    // one aggregation pass computes both counts (was: two count() jobs
    // scanning the profile table twice per export)
    val row = profiles.agg(
      count(lit(1)).as("n"),
      sum(when(col("isPii"), 1L).otherwise(0L)).as("pii")).head()
    val n = row.getLong(0)
    val piiCount = if (row.isNullAt(1)) 0L else row.getLong(1)
    Seq(
      "Dictionary Name" -> name,
      "Total Fields" -> n.toString,
      "PII Fields" -> piiCount.toString,
      "Schema Hash" -> schemaHash)
  }

  /** S19/E1 — CSV sink for the ordered projection (the engine's data-plane
    * stand-in for the styled XLSX writer; POI is not in this sandbox).
    */
  def exportCsv(profiles: Dataset[FieldProfile], path: String): Unit =
    ParquetCatalog.writer(dataDictionarySheet(profiles).coalesce(1))
      .mode("overwrite").option("header", "true").csv(path)

  /** One collected, styled "Data Dictionary" sheet — shared by the single
    * export (E1) and the batch export (E5). Styling precedence mirrors
    * `excel_exporter.py:175-192` exactly: the Null % cell fills (>50 →
    * FFE6E6, >20 → FFFFCC) apply even on PII rows (the reference writes
    * them after the PII fill), and the CC0000 bold font marks ONLY the
    * PII Flag cell — other PII-row cells get the fill with default font.
    */
  private def dictionarySheet(profiles: Dataset[FieldProfile],
      sheetName: String,
      annotations: Option[DataFrame] = None): Xlsx.Sheet = {
    import Xlsx.{Cell, Sheet}
    // one pass: the raw null % rides along as a 9th column (needed for
    // the fill rule, dropped from the rendered cells)
    val projWithNull = annotated(profiles.toDF(), annotations)
      .orderBy(col("position"))
      .select(sheetColumns :+ col("nullPercentage"): _*)
    val collected = projWithNull.collect()
    val nullPcts = collected.map(_.getDouble(8))
    val header = projWithNull.columns.dropRight(1)
      .map(h => Cell(h, Xlsx.StyleHeader)).toSeq
    val dataRows = collected.zipWithIndex.map { case (row, idx) =>
      val vals = row.toSeq.dropRight(1).map(v => if (v == null) "" else v.toString)
      val isPii = vals.last == "Yes"
      val zebra = if (idx % 2 == 0) Xlsx.StyleRowEven else Xlsx.StyleRowOdd
      vals.zipWithIndex.map { case (v, c) =>
        val style =
          if (c == 5 && nullPcts(idx) > 50) Xlsx.StyleNullHigh
          else if (c == 5 && nullPcts(idx) > 20) Xlsx.StyleNullMedium
          else if (isPii && c == 7) Xlsx.StylePii
          else if (isPii) Xlsx.StylePiiFill
          else zebra
        Cell(v, style)
      }
    }.toSeq
    Sheet(sheetName, header +: dataRows,
      colWidths = Seq(40, 15, 20, 50, 35, 12, 15, 12),
      freezeHeader = true, autoFilter = true)
  }

  /** S19/E1/E2 — the REAL `.xlsx` sink via [[Xlsx]]: "Data Dictionary" +
    * "Metadata" sheets with the reference's styling rules
    * (`excel_exporter.py:127-192, 277-332`). Driver-side writer over the
    * ordered projection, like the reference.
    */
  def exportXlsx(profiles: Dataset[FieldProfile], name: String,
      schemaHash: String, path: String,
      annotations: Option[DataFrame] = None): Unit = {
    import Xlsx.Cell
    val dict = dictionarySheet(profiles, "Data Dictionary", annotations)
    val meta = Xlsx.Sheet("Metadata",
      metadataSheet(profiles, name, schemaHash).map { case (k, v) =>
        Seq(Cell(k, Xlsx.StyleMetaKey), Cell(v))
      })
    Xlsx.write(path, Seq(dict, meta))
  }

  /** Excel sheet-name rules (`excel_exporter.py:413-443`): strip
    * `\\ / ? * [ ]`, truncate to 31 chars (suffixing "_idx", sized so the
    * cap holds at any idx), fall back to "Dictionary_idx" when empty.
    */
  def sanitizeSheetName(name: String, idx: Int): String = {
    val cleaned = name.map(c => if ("\\/?*[]".contains(c)) '_' else c)
    val suffix = s"_$idx"
    val sized =
      if (cleaned.length > 31) cleaned.take(31 - suffix.length) + suffix
      else cleaned
    if (sized.isEmpty) s"Dictionary_$idx" else sized
  }

  /** Sanitized AND unique sheet names for a batch (Excel rejects
    * duplicate sheet names): collisions get the "_idx" suffix, re-capped
    * at 31 chars.
    */
  def sanitizeSheetNames(names: Seq[String]): Seq[String] = {
    val used = scala.collection.mutable.Set.empty[String]
    names.zipWithIndex.map { case (n, i) =>
      val idx = i + 1
      val base = sanitizeSheetName(n, idx)
      var k = idx
      var unique = base
      while (used.contains(unique)) {
        val suffix = s"_$k"
        unique = base.take(31 - suffix.length) + suffix
        k += 1
      }
      used += unique
      unique
    }
  }

  /** One dictionary's worth of batch-export input (E5). */
  final case class BatchEntry(name: String, versionNumber: Int,
      createdAt: String, recordsAnalyzed: Option[Long],
      profiles: Dataset[FieldProfile])

  /** E5 — batch export: one workbook, a "Summary" sheet (title, export
    * date, per-dictionary rows) + one data sheet per dictionary's latest
    * version (`export_service.py:642-780`,
    * `excel_exporter.py:363-411,445-520`). `exportedAt` is passed in so
    * the artifact stays deterministic.
    */
  def batchExportXlsx(dicts: Seq[BatchEntry], path: String,
      exportedAt: String): Unit = {
    import Xlsx.{Cell, Sheet}
    require(dicts.nonEmpty, "At least one dictionary is required")
    val headers = Seq("Dictionary Name", "Version", "Total Fields",
      "Records Analyzed", "Created At", "Sheet Name")
    val sheetNames = sanitizeSheetNames(dicts.map(_.name))
    val summaryRows =
      Seq(Seq(Cell("Batch Export Summary", Xlsx.StyleTitle)),
        Seq(Cell(s"Export Date: $exportedAt")),
        Seq(Cell(s"Total Dictionaries: ${dicts.size}", Xlsx.StyleBold)),
        Seq.empty[Cell],
        headers.map(h => Cell(h, Xlsx.StyleHeader))) ++
        dicts.zip(sheetNames).zipWithIndex.map { case ((d, nm), i) =>
          // reference zebra keys on the absolute sheet row (row 6 = first)
          val zebra =
            if ((6 + i) % 2 == 0) Xlsx.StyleRowEven else Xlsx.StyleRowOdd
          Seq(d.name, s"v${d.versionNumber}", d.profiles.count().toString,
            d.recordsAnalyzed.map(_.toString).getOrElse("N/A"),
            d.createdAt, nm)
            .map(Cell(_, zebra))
        }
    val summary = Sheet("Summary", summaryRows,
      colWidths = Seq(35, 10, 12, 18, 22, 31))
    val dataSheets = dicts.zip(sheetNames).map { case (d, nm) =>
      dictionarySheet(d.profiles, nm)
    }
    Xlsx.write(path, summary +: dataSheets)
  }

  /** E4 — version-comparison export (`export_service.py:378-531`): a
    * "Comparison Summary" sheet (version info + change rollup, breaking
    * count in red when non-zero) and a "Changes Detail" sheet (Change
    * Type / Field Path / Breaking / Old Type / New Type / Changes, rows
    * filled by change type, breaking flags in red bold). The diff rows
    * and old/new types are computed by the real J1 engine
    * ([[graft.profile.VersionDiff]]) + two broadcast-friendly type
    * lookups.
    */
  def exportVersionComparison(v1: Dataset[FieldProfile],
      v2: Dataset[FieldProfile], v1Number: Int, v2Number: Int,
      v1Created: String, v2Created: String, path: String): Unit = {
    import Xlsx.{Cell, Sheet}
    val d = graft.profile.VersionDiff.diff(v1, v2).toDF().cache()
    val t1 = v1.toDF().select(col("fieldPath"), col("dataType").as("t1"))
    val t2 = v2.toDF().select(col("fieldPath"), col("dataType").as("t2"))
    val detail = d
      .join(t1, Seq("fieldPath"), "left")
      .join(t2, Seq("fieldPath"), "left")
      .orderBy(col("fieldPath"))
      .select(col("changeType"), col("fieldPath"), col("isBreaking"),
        coalesce(col("t1"), lit("N/A")).as("oldType"),
        coalesce(col("t2"), lit("N/A")).as("newType"),
        array_join(col("changes"), "; ").as("changeStr"))
      .collect()

    val counts = d.groupBy(col("changeType")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val breaking = d.filter(col("isBreaking")).count()
    val stats = Seq(
      "Fields Added" -> counts.getOrElse("added", 0L),
      "Fields Removed" -> counts.getOrElse("removed", 0L),
      "Fields Modified" -> counts.getOrElse("modified", 0L),
      "Breaking Changes" -> breaking,
      "Total Fields (v1)" -> v1.count(),
      "Total Fields (v2)" -> v2.count())
    val summaryRows =
      Seq(Seq(Cell("Version Comparison Summary", Xlsx.StyleTitle)),
        Seq.empty[Cell],
        Seq(Cell("Version 1", Xlsx.StyleBold), Cell(s"v$v1Number")),
        Seq(Cell("Created"), Cell(v1Created)),
        Seq.empty[Cell],
        Seq(Cell("Version 2", Xlsx.StyleBold), Cell(s"v$v2Number")),
        Seq(Cell("Created"), Cell(v2Created)),
        Seq.empty[Cell],
        Seq(Cell("Change Summary", Xlsx.StyleBold))) ++
        stats.map { case (label, value) =>
          val valueStyle =
            if (label == "Breaking Changes" && value > 0)
              Xlsx.StyleBreakingText
            else Xlsx.StyleDefault
          Seq(Cell(label, Xlsx.StyleBold), Cell(value.toString, valueStyle))
        }
    val summary = Sheet("Comparison Summary", summaryRows,
      colWidths = Seq(25, 30))

    val detailHeader = Seq("Change Type", "Field Path", "Breaking",
      "Old Type", "New Type", "Changes").map(Cell(_, Xlsx.StyleHeader))
    val detailRows = detail.map { r =>
      val ct = r.getString(0)
      val isBreaking = r.getBoolean(2)
      val rowFill = ct match {
        case "added" => Xlsx.StyleAdded
        case "removed" => Xlsx.StyleRemoved
        case "modified" => Xlsx.StyleModified
        case _ => Xlsx.StyleDefault
      }
      val breakingStyle =
        if (!isBreaking) rowFill
        else ct match {
          case "added" => Xlsx.StyleBreakingAdded
          case "removed" => Xlsx.StyleBreakingRemoved
          case "modified" => Xlsx.StyleBreakingModified
          case _ => Xlsx.StyleBreakingText
        }
      Seq(Cell(ct.toUpperCase, rowFill), Cell(r.getString(1), rowFill),
        Cell(if (isBreaking) "Yes" else "No", breakingStyle),
        Cell(r.getString(3), rowFill), Cell(r.getString(4), rowFill),
        Cell(r.getString(5), rowFill))
    }.toSeq
    val changes = Sheet("Changes Detail", detailHeader +: detailRows,
      colWidths = Seq(15, 40, 12, 15, 15, 50),
      freezeHeader = true, autoFilter = true)
    d.unpersist()
    Xlsx.write(path, Seq(summary, changes))
  }

  /** S20/E3 — JSON export with include_* toggles
    * (`export_service.py:111-226`): per-field nested blocks with optional
    * statistics / pii / annotation sections, as one JSON document column.
    */
  def exportJson(profiles: Dataset[FieldProfile],
      includeStatistics: Boolean = true,
      includePii: Boolean = true,
      includeAnnotations: Boolean = true,
      annotations: Option[DataFrame] = None): DataFrame = {
    val base: Seq[Column] = Seq(
      col("fieldPath").as("field_path"),
      col("fieldName").as("field_name"),
      col("dataType").as("data_type"),
      col("semanticType").as("semantic_type"),
      col("isNullable").as("is_nullable"),
      col("isArray").as("is_array"))
    val stats =
      if (includeStatistics) Seq(struct(
        col("nullCount").as("null_count"),
        col("nullPercentage").as("null_percentage"),
        col("totalCount").as("total_count"),
        col("distinctCount").as("distinct_count"),
        col("minValue").as("min_value"),
        col("maxValue").as("max_value"),
        col("meanValue").as("mean_value")).as("statistics"))
      else Nil
    val pii =
      if (includePii) Seq(struct(
        col("isPii").as("is_pii"),
        col("piiType").as("pii_type")).as("pii"))
      else Nil
    val ann =
      if (includeAnnotations) Seq(struct(
        col("description"),
        col("businessName").as("business_name"),
        col("isAiGenerated").as("is_ai_generated")).as("annotation"))
      else Nil
    annotated(profiles.toDF(), annotations)
      .orderBy(col("position"))
      .select(to_json(struct(base ++ stats ++ pii ++ ann: _*)).as("field_json"))
  }
}
