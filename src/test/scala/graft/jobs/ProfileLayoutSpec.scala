package graft.jobs

import java.io.File
import java.nio.file.Files

import org.apache.spark.JobTrace
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.Dictionaries
import graft.export.{Exports, Imports}
import graft.profile.Profiler

/** The one dictionary version commit (`ProfileJob.commitVersion`) under
  * its three writers: each commit is one pass over the field rows — the
  * `fields` write observes the field count and schema hash in its result
  * stage and the `versions` marker is appended from them — the marker
  * equals what the written rows say, an empty input commits nothing, and
  * a crash before the `dictionaries` row heals on the next commit.
  */
class ProfileLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def docs(n: Int, extra: String = ""): DataFrame = {
    import spark.implicits._
    (1 to n).map(i =>
      s"""{"id": $i, "name": "n$i", "tags": ["t${i % 7}"]$extra}""")
      .toDF("json")
  }

  private def dir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One traced call: its result, Spark job count and observed writes. */
  private def traced[T](name: String)(body: => T): (T, Int, Seq[SparkPlan]) =
    JobTrace(spark, s"profile-jobs-$name")(body)

  /** The single observed write holds its observed node outside every
    * shuffle-map stage; `exchangeBelow` also asks for an exchange under it.
    */
  private def assertObservedInResultStage(writes: Seq[SparkPlan],
      exchangeBelow: Boolean): Unit = {
    assert(writes.size == 1, s"${writes.size} observed writes")
    val write = writes.head
    val observed = find(write)(_.isInstanceOf[CollectMetricsExec]).get
    assert(find(observed)(_.isInstanceOf[ShuffleExchangeLike]).nonEmpty ==
      exchangeBelow, s"exchange below the observed node:\n$write")
    assert(collect(write) { case e: ShuffleExchangeLike => e }
      .forall(e => find(e)(_.isInstanceOf[CollectMetricsExec]).isEmpty),
      s"observed node inside a shuffle-map stage:\n$write")
  }

  /** The `versions` row of (dict, version) equals the schema hash and the
    * row count of that version's written fields.
    */
  private def assertMarkerMatchesFields(out: String, dict: String,
      version: Int, hash: Option[String] = None): Unit = {
    val written = ProfileJob.readFields(spark, out, dict, version)
    val row = spark.read.parquet(s"$out/versions")
      .filter(col("dictionary") === dict && col("version_number") === version)
      .collect()
    assert(row.length == 1, s"${row.length} versions rows for v$version")
    assert(row.head.getAs[Long]("n_fields") == written.count())
    assert(row.head.getAs[String]("schema_hash") ==
      hash.getOrElse(Profiler.schemaHash(written)))
  }

  private def createdVersions(out: String): Map[String, Int] =
    Dictionaries.list(spark, out).collect()
      .map(r => r.getAs[String]("dictionary") -> r.getAs[Int]("created_version"))
      .toMap

  test("run: one pass per version, marker = written fields") {
    val out = dir("graft_profile_layout")
    val ((v1, h1, p1), fresh, w1) = traced("fresh") {
      ProfileJob.run(spark, docs(200), "json", out, "users")
    }
    assert(v1 == 1 && p1.count() == 3)
    assert(h1 == Profiler.schemaHash(p1))
    assertObservedInResultStage(w1, exchangeBelow = true)
    assertMarkerMatchesFields(out, "users", 1)

    val ((v2, h2, _), second, w2) = traced("second") {
      ProfileJob.run(spark, docs(200, """, "mail": "m@x.co""""), "json", out,
        "users")
    }
    assert(v2 == 2 && h2 != h1)
    assertObservedInResultStage(w2, exchangeBelow = true)
    assertMarkerMatchesFields(out, "users", 2)
    assert(createdVersions(out) == Map("users" -> 1))
    assert(spark.read.parquet(s"$out/dictionaries").count() == 1)
    // no cache, no schema-hash job, no count after the write; the parent
    // commit ran 11 and 13 (the second run now also reads `dictionaries`)
    assert((fresh, second) == ((9, 12)))
  }

  test("recalculate and importInto: one pass each, marker = written fields") {
    val out = dir("graft_profile_layout_recalc")
    ProfileJob.run(spark, docs(200), "json", out, "users")
    val (v, recalc, w) = traced("recalc") {
      ProfileJob.recalculate(spark, out, "users")
    }
    assert(v == 2)
    assertObservedInResultStage(w, exchangeBelow = false)
    assertMarkerMatchesFields(out, "users", 2)

    val sheet = s"${dir("graft_profile_layout_sheet")}/sheet"
    Exports.exportCsv(ProfileJob.readFields(spark, out, "users", 1), sheet)
    val fields = Imports.importCsv(spark, sheet) // parsed outside the group
    val (ok, imported, wi) = traced("import") {
      Imports.importInto(spark, out, "imported", fields)
    }
    assert(ok)
    assertObservedInResultStage(wi, exchangeBelow = false)
    assertMarkerMatchesFields(out, "imported", 1, Some("imported"))
    assert(createdVersions(out) == Map("users" -> 1, "imported" -> 1))
    // the parent commit ran 12 and 13
    assert((recalc, imported) == ((9, 11)))
  }

  test("a crash before the dictionaries row heals on the next run") {
    import spark.implicits._
    val out = dir("graft_profile_layout_crash")
    // the crash state: v1's fields and versions marker, no dictionaries row
    val (_, hash, fields) =
      ProfileJob.run(spark, docs(20), "json", dir("graft_crash_src"), "users")
    fields.toDF().withColumn("dictionary", lit("users"))
      .withColumn("version_number", lit(1))
      .write.partitionBy("dictionary", "version_number")
      .parquet(s"$out/fields")
    Seq(("users", 1, hash, fields.count()))
      .toDF("dictionary", "version_number", "schema_hash", "n_fields")
      .write.mode(SaveMode.Append).parquet(s"$out/versions")
    assert(!new File(s"$out/dictionaries").exists())

    val (v, _, _) = ProfileJob.run(spark, docs(20), "json", out, "users")
    assert(v == 2)
    assert(createdVersions(out) == Map("users" -> 1))
  }

  test("an input without fields commits nothing and says so") {
    import spark.implicits._
    val out = dir("graft_profile_layout_empty")
    ProfileJob.run(spark, docs(5), "json", out, "other")
    val e = intercept[IllegalArgumentException] {
      ProfileJob.run(spark, Seq.empty[String].toDF("json"), "json", out,
        "ghost")
    }
    assert(e.getMessage.contains("ghost"))
    assert(ProfileJob.latestVersion(spark, out, "ghost") == 0)

    // a committed version whose field files are gone: nothing to recalculate
    ProfileJob.run(spark, docs(5), "json", out, "users")
    new File(s"$out/fields/dictionary=users/version_number=1").listFiles()
      .foreach(_.delete())
    val r = intercept[IllegalArgumentException] {
      ProfileJob.recalculate(spark, out, "users")
    }
    assert(r.getMessage.contains("users"))
    assert(ProfileJob.latestVersion(spark, out, "users") == 1)

    // a sheet without field rows imports nothing
    val sheet = s"${dir("graft_profile_layout_empty_sheet")}/sheet"
    Exports.exportCsv(ProfileJob.readFields(spark, out, "other", 1), sheet)
    assert(!Imports.importInto(spark, out, "blank",
      Imports.importCsv(spark, sheet).filter(lit(false))))
    assert(ProfileJob.latestVersion(spark, out, "blank") == 0)
    assert(createdVersions(out) == Map("other" -> 1, "users" -> 1))
  }
}
