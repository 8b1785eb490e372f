package graft.catalog

import java.nio.file.Files

import graft.SparkSpec
import graft.jobs.ProfileJob

/** Dictionary-level endpoints: list rollup, latest-wins metadata update,
  * cascade delete.
  */
class DictionariesSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def seed(outDir: String): Unit = {
    import spark.implicits._
    ProfileJob.run(spark,
      Seq("""{"id": 1, "name": "a"}""").toDF("json"), "json", outDir, "users")
    ProfileJob.run(spark,
      Seq("""{"id": 1, "name": "a", "mail": "m@x.co"}""").toDF("json"),
      "json", outDir, "users")
    ProfileJob.run(spark,
      Seq("""{"sku": "s-1", "price": 9.5}""").toDF("json"),
      "json", outDir, "items")
  }

  test("list: per-dictionary rollup with latest metadata") {
    val outDir = Files.createTempDirectory("graft_dicts1").toString
    seed(outDir)
    Dictionaries.updateMeta(spark, outDir, "users",
      Some("User Catalog"), Some("v1 desc"), ts("2024-01-01 00:00:00"))
    Dictionaries.updateMeta(spark, outDir, "users",
      Some("User Catalog"), Some("v2 desc"), ts("2024-02-01 00:00:00"))
    val rows = Dictionaries.list(spark, outDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("items", "users"))
    val u = rows("users")
    assert(u.getAs[Long]("n_versions") === 2L)
    assert(u.getAs[Int]("latest_version") === 2)
    assert(u.getAs[Long]("latest_n_fields") === 3L) // id, name, mail
    assert(u.getAs[String]("display_name") === "User Catalog")
    assert(u.getAs[String]("description") === "v2 desc") // latest wins
    // unannotated dictionary falls back to its key as display name
    assert(rows("items").getAs[String]("display_name") === "items")
  }

  test("delete cascades: partitions dropped, markers rewritten, rest intact") {
    val outDir = Files.createTempDirectory("graft_dicts2").toString
    seed(outDir)
    Dictionaries.updateMeta(spark, outDir, "users",
      None, Some("doomed"), ts("2024-01-01 00:00:00"))
    val removed = Dictionaries.delete(spark, outDir, "users")
    assert(removed("fields") === 5L) // 2 + 3 across the two versions
    assert(removed("versions") === 2L)
    assert(removed("dictionaries") === 1L)
    assert(removed("dictionary_meta") === 1L)

    val left = Dictionaries.list(spark, outDir).collect()
    assert(left.map(_.getString(0)).toSeq === Seq("items"))
    assert(ProfileJob.latestVersion(spark, outDir, "users") === 0)
    assert(ProfileJob.readFields(spark, outDir, "items", 1).count() === 2L)
    // the catalog stays protocol-consistent after the cascade
    val h = CatalogAdmin.health(spark, outDir)
    assert(h.healthy, h)
  }

  test("search: case-insensitive contains on name/display_name, paginated, with total") {
    val outDir = Files.createTempDirectory("graft_dicts3").toString
    seed(outDir)
    Dictionaries.updateMeta(spark, outDir, "items",
      Some("Product Items"), None, ts("2024-01-01 00:00:00"))
    // matches name substring, case-insensitively
    val byName = Dictionaries.search(spark, outDir, "SER").collect()
    assert(byName.map(_.getString(0)).toSeq === Seq("users"))
    assert(byName.head.getAs[Long]("n_versions") === 2L)
    // matches the display_name alias too
    val byDisplay = Dictionaries.search(spark, outDir, "product").collect()
    assert(byDisplay.map(_.getString(0)).toSeq === Seq("items"))
    // pagination + pre-pagination total ("s" hits both: userS, itemS)
    assert(Dictionaries.searchTotal(spark, outDir, "s") === 2L)
    val page2 = Dictionaries.search(spark, outDir, "s",
      limitN = 1, offsetN = 1).collect()
    assert(page2.map(_.getString(0)).toSeq === Seq("users"))
    // no match → empty page, zero total
    assert(Dictionaries.search(spark, outDir, "zzz").isEmpty)
    assert(Dictionaries.searchTotal(spark, outDir, "zzz") === 0L)
  }

  test("list/search on empty or partially-restored catalogs keep the schema") {
    val outDir = Files.createTempDirectory("graft_dicts4").toString
    // never-committed catalog
    val empty = Dictionaries.list(spark, outDir)
    assert(empty.columns.toSeq === Seq("dictionary", "created_version",
      "n_versions", "latest_version", "latest_n_fields", "display_name",
      "description"))
    assert(empty.isEmpty)
    assert(Dictionaries.searchTotal(spark, outDir, "x") === 0L)
    // partial restore: dictionaries table present, versions missing
    seed(outDir)
    val versionsDir = java.nio.file.Paths.get(outDir, "versions")
    val s = Files.walk(versionsDir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
    finally s.close()
    val partial = Dictionaries.list(spark, outDir)
    assert(partial.columns.contains("latest_version"))
    assert(partial.isEmpty)
  }

  test("delete marker rewrite survives a crash before the final swap (read recovers)") {
    val outDir = Files.createTempDirectory("graft_dicts5").toString
    seed(outDir)
    // simulate the crash window between "live → __old" and "__rewrite →
    // live": a complete rewrite exists, the live dir is gone
    val cat = new ParquetCatalog(outDir)
    val keep = cat.read(spark, "versions").get
      .filter(org.apache.spark.sql.functions.col("dictionary") =!= "users")
    keep.write.mode("overwrite").parquet(s"${cat.path("versions")}__rewrite")
    val live = java.nio.file.Paths.get(cat.path("versions"))
    val s = Files.walk(live)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
    finally s.close()
    // a reader completes the swap instead of seeing an empty catalog
    val recovered = cat.read(spark, "versions")
    assert(recovered.isDefined)
    assert(recovered.get.select("dictionary").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("items"))
    assert(!Files.exists(java.nio.file.Paths.get(s"${cat.path("versions")}__rewrite")))
  }

  test("a write during a pending delete swap rolls the swap forward first") {
    val outDir = Files.createTempDirectory("graft_dicts6").toString
    seed(outDir)
    Dictionaries.updateMeta(spark, outDir, "users",
      Some("Users"), None, ts("2024-01-01 00:00:00"))
    Dictionaries.updateMeta(spark, outDir, "items",
      Some("Items"), None, ts("2024-01-01 00:00:00"))
    // delete("users") cut between "live → __old" and "__rewrite → live"
    val cat = new ParquetCatalog(outDir)
    val meta = cat.path("dictionary_meta")
    cat.read(spark, "dictionary_meta").get
      .filter(org.apache.spark.sql.functions.col("dictionary") =!= "users")
      .write.parquet(s"${meta}__rewrite")
    Files.move(java.nio.file.Paths.get(meta),
      java.nio.file.Paths.get(s"${meta}__old"))
    // a later metadata update must land on the rewritten table
    Dictionaries.updateMeta(spark, outDir, "users",
      Some("Users again"), None, ts("2024-02-01 00:00:00"))
    val latest = Dictionaries.latestMeta(spark, outDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(latest === Map("items" -> "Items", "users" -> "Users again"))
  }
}
