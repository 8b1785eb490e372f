package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog administration — the reference's DatabaseService surface
  * (`/root/reference/backend/src/services/database_service.py:33-330`,
  * `api/v1/database.py`: stats / health / clear / backup) over the
  * Parquet catalog directories instead of an ORM session.
  */
object CatalogAdmin {

  val Tables: Seq[String] =
    Seq("dictionaries", "versions", "fields", "annotations",
      "dictionary_meta")

  private def dirSize(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Per-table row counts + storage bytes (`get_database_stats` /
    * `get_table_statistics`): one row per catalog table plus the same
    * derived ratios the reference reports.
    */
  def stats(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val cat = new ParquetCatalog(outDir)
    val counts = Tables.map { t =>
      val rows = cat.read(spark, t).map(_.count()).getOrElse(0L)
      (t, rows, dirSize(Paths.get(cat.path(t))))
    }
    val byName = counts.map(c => c._1 -> c._2).toMap
    def ratio(num: String, den: String): Double =
      if (byName(den) > 0) byName(num).toDouble / byName(den) else 0.0
    counts.map { case (t, rows, bytes) =>
      val avg = t match {
        case "versions" => ratio("versions", "dictionaries")
        case "fields" => ratio("fields", "versions")
        case "annotations" => ratio("annotations", "fields")
        case _ => 0.0
      }
      (t, rows, bytes, avg)
    }.toDF("table", "row_count", "size_bytes", "avg_per_parent")
  }

  final case class Health(
      healthy: Boolean,
      totalRecords: Long,
      committedVersions: Long,
      versionsMissingFields: Seq[String], // marker without data = BROKEN
      uncommittedFieldPartitions: Seq[String]) // data without marker = crash remnants (benign)

  /** Health probe (`get_database_health`) upgraded to a real commit-
    * protocol consistency check: every version MARKER must have its
    * fields partition (a marker without data violates the data-then-
    * marker protocol), while data without a marker is a tolerated crash
    * remnant that a re-run overwrites.
    */
  def health(spark: SparkSession, outDir: String): Health = {
    val cat = new ParquetCatalog(outDir)
    val versions = cat.read(spark, "versions")
      .map(_.select(col("dictionary"), col("version_number")).distinct()
        .collect().map(r => s"${r.getString(0)}/${r.getInt(1)}").toSet)
      .getOrElse(Set.empty)
    val fieldParts = cat.read(spark, "fields")
      .map(_.select(col("dictionary"), col("version_number")).distinct()
        .collect().map(r => s"${r.getString(0)}/${r.getInt(1)}").toSet)
      .getOrElse(Set.empty)
    val missing = (versions -- fieldParts).toSeq.sorted
    val uncommitted = (fieldParts -- versions).toSeq.sorted
    val total = Tables.map(t =>
      cat.read(spark, t).map(_.count()).getOrElse(0L)).sum
    Health(missing.isEmpty, total, versions.size.toLong, missing, uncommitted)
  }

  /** Destructive admin op (`clear_database`): drop every catalog table
    * directory. Returns rows removed per table.
    */
  def clear(spark: SparkSession, outDir: String): Map[String, Long] = {
    val cat = new ParquetCatalog(outDir)
    Tables.map { t =>
      val n = cat.read(spark, t).map(_.count()).getOrElse(0L)
      // with its replace siblings, which the next read would promote
      cat.drop(spark, t)
      t -> n
    }.toMap
  }

  /** Restore a backup into a live catalog root: drop the current tables,
    * then copy the backup tree back (the proof that a backup is usable,
    * not just bytes on disk — CatalogAdminSpec round-trips it and checks
    * health + stats equality). Returns (files, bytes) restored.
    */
  def restore(spark: SparkSession, backupDir: String,
      outDir: String): (Long, Long) = {
    clear(spark, outDir)
    backup(backupDir, outDir)
  }

  /** Backup (`backup_database`): copy the catalog tree to `backupDir`;
    * returns (files copied, bytes). Restore = point the engine at it, or
    * [[restore]] it in place.
    */
  def backup(outDir: String, backupDir: String): (Long, Long) = {
    val src = Paths.get(outDir)
    val dst = Paths.get(backupDir)
    Files.createDirectories(dst)
    var files = 0L
    var bytes = 0L
    val s = Files.walk(src)
    try s.forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        files += 1
        bytes += Files.size(p)
      }
    } finally s.close()
    (files, bytes)
  }
}
