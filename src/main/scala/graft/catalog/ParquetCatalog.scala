package graft.catalog

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, SaveMode,
  SparkSession}

/** The engine's one table catalog (SURVEY.md §1.4/§7.1): Parquet tables
  * under `baseDir`, with the two Iceberg-shaped commit protocols every
  * job uses.
  *
  * Data-then-marker: jobs write DATA first (idempotent, partition-scoped
  * overwrite), then APPEND a commit-marker row to a marker table; readers
  * treat marker rows as the source of truth, so a crashed run leaves no
  * visible version/bucket and is simply redone.
  *
  * Whole-table replace ([[replace]]): the new table is written to the
  * sibling `<table>__rewrite`, swapped in by two renames (live →
  * `<table>__old`, `__rewrite` → live) and `__old` is deleted. Live is
  * absent only between the two renames; [[read]] and every write first
  * roll such a swap forward ([[rollForward]]), so a table never vanishes
  * and never shows a half-written rewrite.
  *
  * This class is the seam where a real Iceberg catalog slots in later
  * (`newAppend()/commit()` snapshots replace the marker append, a
  * `newOverwrite()` the rename swap). Paths go through the Hadoop
  * `FileSystem` of `baseDir`. Rename is atomic on HDFS and local disks,
  * not on object stores.
  *
  * Write-helper contract: every engine path write starts at
  * [[ParquetCatalog.writer]] — this class's writes, the dedup signature
  * catalog, the streaming sinks, the CSV export and the bench corpora.
  * The helper routes `file:` paths to [[NioLocalFileSystem]], which sets
  * permissions in process instead of forking `chmod` per file and
  * directory. The two Hadoop options ride on each write, not on the
  * session: Spark copies write options into the job's Hadoop conf on the
  * driver and the executors, so they hold in any session (including one
  * built outside `Sessions`) and are not masked by a `file:` FileSystem
  * the session already cached; other schemes are untouched. The class
  * falls back to the stock method when native IO is loaded, the mode
  * needs more than the rwx bits or the target is a setuid/setgid
  * directory, so permissions stay exactly Hadoop's.
  */
final class ParquetCatalog(baseDir: String) {

  def path(table: String): String = s"$baseDir/$table"

  private def fs(spark: SparkSession): FileSystem =
    new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (live, `__rewrite`, `__old`) — the only place the sibling names live. */
  private def dirs(table: String): (Path, Path, Path) = (new Path(path(table)),
    new Path(s"${path(table)}__rewrite"), new Path(s"${path(table)}__old"))

  private def check(ok: Boolean, table: String, step: String): Unit =
    if (!ok) throw new IOException(s"replace of ${path(table)}: $step failed")

  private def remove(f: FileSystem, p: Path, table: String,
      step: String): Unit =
    if (f.exists(p)) check(f.delete(p, true), table, step)

  /** Finish a [[replace]] cut short. Acts only when live is absent: a
    * `__rewrite` holding `_SUCCESS` is complete and is promoted (then
    * `__old` is dropped); otherwise `__old` is restored. A live table is
    * always authoritative, and its leftover siblings wait for the next
    * [[replace]], so a reader never touches a rewrite still in progress.
    */
  def rollForward(spark: SparkSession, table: String): Unit = {
    val f = fs(spark)
    val (live, rewrite, old) = dirs(table)
    if (!f.exists(live)) {
      if (f.exists(new Path(rewrite, "_SUCCESS"))) {
        check(f.rename(rewrite, live), table, "promoting __rewrite")
        remove(f, old, table, "deleting __old")
      } else if (f.exists(old))
        check(f.rename(old, live), table, "restoring __old")
    }
  }

  /** Idempotent partition-scoped data write: re-running a failed job
    * overwrites exactly the partitions it re-computes, nothing else.
    */
  def overwritePartitions(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit = {
    rollForward(df.sparkSession, table)
    ParquetCatalog.writer(df).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path(table))
  }

  /** Append partitioned data rows (event-log tables: annotations). */
  def appendPartitions(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit = {
    rollForward(df.sparkSession, table)
    ParquetCatalog.writer(df).mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(path(table))
  }

  /** Append commit-marker rows — call ONLY after the data landed. */
  def appendMarker(df: DataFrame, table: String): Unit = {
    rollForward(df.sparkSession, table)
    ParquetCatalog.writer(df).mode(SaveMode.Append).parquet(path(table))
  }

  /** Atomically replace the whole table with `df`, which may read the
    * live table itself: the write completes before the first rename.
    * Steps: drop stale siblings, write `__rewrite`, rename live →
    * `__old`, rename `__rewrite` → live, delete `__old`. A failed step
    * throws an IOException naming it.
    */
  def replace(df: DataFrame, table: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val f = fs(df.sparkSession)
    val (live, rewrite, old) = dirs(table)
    rollForward(df.sparkSession, table)
    remove(f, rewrite, table, "deleting a stale __rewrite")
    remove(f, old, table, "deleting a stale __old")
    // ErrorIfExists, not Overwrite: a dynamic partitionOverwriteMode in
    // the session would commit through a staging dir without _SUCCESS
    ParquetCatalog.writer(df).mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionCols: _*)
      .parquet(rewrite.toString)
    if (f.exists(live)) check(f.rename(live, old), table, "live → __old")
    check(f.rename(rewrite, live), table, "__rewrite → live")
    remove(f, old, table, "deleting __old")
  }

  /** Drop a table together with both swap siblings. */
  def drop(spark: SparkSession, table: String): Unit = {
    val f = fs(spark)
    val (live, rewrite, old) = dirs(table)
    remove(f, live, table, "dropping live")
    remove(f, rewrite, table, "dropping __rewrite")
    remove(f, old, table, "dropping __old")
  }

  /** Read a table if it exists (None = never committed). */
  def read(spark: SparkSession, table: String): Option[DataFrame] = {
    rollForward(spark, table)
    if (fs(spark).exists(new Path(path(table))))
      Some(spark.read.parquet(path(table)))
    else None
  }
}

object ParquetCatalog {

  /** Hadoop options for a `file:` write through [[NioLocalFileSystem]];
    * `disable.cache` keeps that class scoped to the write's own conf.
    */
  private[catalog] val LocalWriteOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The start of every engine path write (see the class docstring). */
  def writer[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write.options(LocalWriteOptions)
}
