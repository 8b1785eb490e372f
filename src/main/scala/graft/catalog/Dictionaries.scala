package graft.catalog

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dictionary-level catalog surface — the reference's remaining
  * dictionary endpoints (`api/v1/dictionaries.py`): list (paginated
  * overview), metadata update (PUT) and delete (cascade). Updates follow
  * the same append-then-latest-wins discipline as annotations, so the
  * catalog stays immutable-append; delete is the one physically
  * destructive operation, mirroring the reference's cascade.
  */
object Dictionaries {

  /** GET / — one row per dictionary with version/field rollups and the
    * latest metadata (`dictionaries.py:39-106`): dictionary,
    * created_version, n_versions, latest_version, latest_n_fields,
    * display_name, description.
    */
  /** Empty result with the documented list() schema, so callers can
    * reference columns even on a never-committed or partially-restored
    * catalog (dictionaries without versions, or vice versa).
    */
  private def emptyList(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, Long, Int, Long, String, String)]
      .toDF("dictionary", "created_version", "n_versions", "latest_version",
        "latest_n_fields", "display_name", "description")
  }

  def list(spark: SparkSession, outDir: String): DataFrame = {
    val cat = new ParquetCatalog(outDir)
    val dictsOpt = cat.read(spark, "dictionaries")
    val versionsOpt = cat.read(spark, "versions")
    if (dictsOpt.isEmpty || versionsOpt.isEmpty) return emptyList(spark)
    val dicts = dictsOpt.get
    val versions = versionsOpt.get
    val rollup = versions.groupBy(col("dictionary")).agg(
      max(col("version_number")).as("latest_version"),
      count(lit(1)).as("n_versions"))
    val latestFields = versions
      .join(rollup.select(col("dictionary"),
        col("latest_version").as("version_number")),
        Seq("dictionary", "version_number"))
      .select(col("dictionary"), col("n_fields").as("latest_n_fields"))
    val meta = latestMeta(spark, outDir)
    dicts
      .join(rollup, Seq("dictionary"), "left")
      .join(latestFields, Seq("dictionary"), "left")
      .join(broadcast(meta), Seq("dictionary"), "left")
      .select(col("dictionary"), col("created_version"),
        col("n_versions"), col("latest_version"), col("latest_n_fields"),
        coalesce(col("display_name"), col("dictionary")).as("display_name"),
        col("description"))
      .orderBy(col("dictionary"))
  }

  /** GET /search/dictionaries — dictionary-name search
    * (`api/v1/search.py:193-260` → `dictionary_repo.search_by_name:151`):
    * case-insensitive contains on name (and the display_name alias the
    * engine adds), ordered by name, paginated. Rows carry the same rollup
    * columns as [[list]].
    */
  private def matching(spark: SparkSession, outDir: String,
      query: String): DataFrame = {
    val needle = query.toLowerCase(java.util.Locale.ROOT)
    list(spark, outDir).filter(
      contains(lower(col("dictionary")), lit(needle)) ||
        contains(lower(col("display_name")), lit(needle)))
  }

  def search(spark: SparkSession, outDir: String, query: String,
      limitN: Int = 20, offsetN: Int = 0): DataFrame =
    matching(spark, outDir, query)
      .orderBy(col("dictionary")).offset(offsetN).limit(limitN)

  /** Total matches BEFORE pagination (the endpoint's meta.total /
    * has_more). Driver-scale: the list rollup is one row per dictionary.
    */
  def searchTotal(spark: SparkSession, outDir: String,
      query: String): Long =
    matching(spark, outDir, query).count()

  /** PUT /{id} — metadata update as an appended generation; reads pick
    * the latest per dictionary (`dictionaries.py:321-397`). `updatedAt`
    * is caller-supplied so artifacts stay deterministic.
    */
  def updateMeta(spark: SparkSession, outDir: String, dict: String,
      displayName: Option[String], description: Option[String],
      updatedAt: java.sql.Timestamp, updatedBy: String = "api"): Unit = {
    import spark.implicits._
    new ParquetCatalog(outDir).appendMarker(
      Seq((dict, displayName.orNull, description.orNull, updatedAt,
        updatedBy))
        .toDF("dictionary", "display_name", "description", "updated_at",
          "updated_by"),
      "dictionary_meta")
  }

  /** Latest metadata generation per dictionary (W2 shape). */
  def latestMeta(spark: SparkSession, outDir: String): DataFrame =
    new ParquetCatalog(outDir).read(spark, "dictionary_meta") match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, String)]
          .toDF("dictionary", "display_name", "description")
      case Some(meta) =>
        val w = Window.partitionBy(col("dictionary"))
          .orderBy(col("updated_at").desc)
        meta.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("dictionary"), col("display_name"), col("description"))
    }

  /** DELETE /{id} — cascade removal (`dictionaries.py:399-444`): drop
    * the dictionary's fields/annotations partitions physically, and
    * rewrite the small marker tables without its rows. Returns removed
    * row counts per table.
    */
  def delete(spark: SparkSession, outDir: String,
      dict: String): Map[String, Long] = {
    val cat = new ParquetCatalog(outDir)

    def dropPartition(table: String): Long = {
      val n = cat.read(spark, table)
        .map(_.filter(col("dictionary") === dict).count()).getOrElse(0L)
      val dir = new java.io.File(cat.path(table), s"dictionary=$dict")
      if (!FileUtil.fullyDelete(dir))
        throw new java.io.IOException(s"could not delete $dir")
      n
    }

    // the small marker tables are rewritten without the dictionary's
    // rows by the catalog's atomic replace: never deleted while live
    def rewriteMarker(table: String): Long = cat.read(spark, table) match {
      case None => 0L
      case Some(df) =>
        val keep = df.filter(col("dictionary") =!= dict).cache()
        val removed = df.count() - keep.count()
        cat.replace(keep, table)
        keep.unpersist()
        removed
    }

    Map(
      "fields" -> dropPartition("fields"),
      "annotations" -> dropPartition("annotations"),
      "versions" -> rewriteMarker("versions"),
      "dictionaries" -> rewriteMarker("dictionaries"),
      "dictionary_meta" -> rewriteMarker("dictionary_meta"))
  }
}
