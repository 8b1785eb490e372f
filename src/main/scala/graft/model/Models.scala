package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Core data model for the graft engine.
  *
  * The primary input shape follows BASELINE.json `input_hint`: a table of
  * source-code repository files `(repo, path, commit, lang, content)`.
  * The profiling output shape re-expresses the reference's per-field catalog
  * row (`/root/reference/backend/src/models/field.py:17-73`, ~30 columns) as
  * a typed case class backing `Dataset[FieldProfile]`.
  */

/** One file of one repository — the north-rule input row. */
final case class FileRecord(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

object FileRecord {
  /** The input read schema: a parquet read under it skips footer inference. */
  val schema: StructType = Encoders.product[FileRecord].schema
}

/** Quality-filter verdict for one file (north rule).
  *
  * `keep` is the per-file keep/drop decision; `scrubbedSha256` is the sha256
  * hex of the PII-scrubbed content (the per-row byte-identity invariant);
  * `dropReasons` lists every heuristic rule that fired (empty when kept).
  */
final case class FilterVerdict(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    keep: Boolean,
    dropReasons: Seq[String],
    predLang: String,
    langConfidence: Double,
    perplexity: Double,
    scrubbedContent: String,
    scrubbedSha256: String,
    piiTypes: Seq[String]
)

/** Per-field profile row — Spark re-expression of the reference Field model
  * (`models/field.py:17-73`) + transient FieldMetadata
  * (`processors/json_parser.py:151-223`).
  *
  * `typesSeen` is a deterministic type→count map (richer than the
  * reference's unordered Python set — see SURVEY.md §2.4 A7 note).
  */
final case class FieldProfile(
    fieldPath: String,
    fieldName: String,
    parentPath: String,
    nestingLevel: Int,
    dataType: String,
    confidenceScore: Double,
    typesSeen: Map[String, Long],
    isArray: Boolean,
    arrayItemType: String,
    sampleValues: Seq[String],
    totalCount: Long,
    nullCount: Long,
    nullPercentage: Double,
    distinctCount: Long,
    cardinalityRatio: Double,
    isNullable: Boolean,
    semanticType: Option[String],
    isPii: Boolean,
    piiType: Option[String],
    minValue: Option[Double],
    maxValue: Option[Double],
    meanValue: Option[Double],
    medianValue: Option[Double],
    stdDev: Option[Double],
    percentile25: Option[Double],
    percentile75: Option[Double],
    position: Int
)

/** One observed (path, type-tag, value) emission from the JSON field walk —
  * the Spark analogue of `FieldMetadata.observe_value`
  * (`json_parser.py:175-207`); these rows feed the groupBy(path) profile
  * aggregation.
  */
final case class FieldObservation(
    recordId: Long,
    fieldPath: String,
    fieldName: String,
    parentPath: String,
    nestingLevel: Int,
    typeTag: String,           // null|boolean|integer|float|string|array|object
    value: String,             // string rendering (null for nulls/objects)
    isArray: Boolean,
    arrayItemTypes: Seq[String]
)

/** Per-partition lineage + metrics row checkpointed by the quality-filter
  * job (north rule: resumable from last committed snapshot).
  */
final case class PartitionMetrics(
    snapshotId: Long,
    bucket: Int,
    rowsIn: Long,
    rowsKept: Long,
    rowsDropped: Long,
    bytesIn: Long,
    bytesKept: Long,
    piiHits: Long
)

/** Version-diff row (reference `services/version_service.py:369-431`). */
final case class DiffRow(
    fieldPath: String,
    changeType: String,        // added | removed | modified
    isBreaking: Boolean,
    changes: Seq[String]
)
