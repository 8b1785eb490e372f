package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.ParquetCatalog
import graft.filter.{KnLm, LangId, QualityFilter}
import graft.fixtures.Corpus
import graft.jobs.{BuildFixtures, DedupScaleBench, ProfileJob, QualityFilterJob}
import graft.model.{FieldProfile, FileRecord}
import graft.profile.{Analysis, Profiler}
import graft.queries.{IncrementalDedup, TrainingOps}

/** Outcome of an op's output check. `digest` fingerprints the committed
  * output, so a traced op can be compared with an untraced one.
  */
final case class Checked(ok: Boolean, digest: String, error: String = "")

/** One benchmark workload. Ops run in cycles of [[opsPerCycle]] over fixed
  * seeded inputs; [[beginCycle]] and [[endCycle]] are untimed. `runOp`
  * calls the engine's public entry point, or, with tracing on, a replica
  * that calls the same public pieces in the same order inside layer spans.
  */
abstract class Workload(val spark: SparkSession, val work: String,
    val seed: Long) {
  def name: String
  def opsPerCycle: Int
  /** Untimed cycles before timing starts, so the JIT has compiled the op. */
  def warmupCycles: Int = 1
  /** Generates and writes the seeded inputs. */
  def prepare(): Unit
  def beginCycle(cycle: Int): Unit = ()
  /** The catalog directory op (cycle, pos) commits into. */
  def catalogDir(cycle: Int, pos: Int): String
  def runOp(cycle: Int, pos: Int, tr: Tracer): Any
  def check(cycle: Int, pos: Int, out: Any): Checked
  /** Cycle-level check; Some(error) fails the cycle's last op. */
  def endCycle(cycle: Int): Option[String] = None
  /** The op's input as engine rows, for the traced kernel pass. */
  def records(pos: Int): Dataset[FileRecord]
  def rows(pos: Int): Long
  def inputBytes(pos: Int): Long
  /** Parquet files the op's catalog reads open, from the catalog listing
    * before and after the op (relative path -> bytes).
    */
  def filesRead(pos: Int, before: Map[String, Long],
      after: Map[String, Long]): Long
  /** Workload-specific layer counts of the traced op. */
  def layerCounts(cycle: Int, pos: Int, out: Any): Map[String, Double] =
    Map.empty

  protected def in(sub: String): String = s"$work/input/$sub"
  protected def out(sub: String): String = s"$work/out/$sub"
  def cleanup(cycle: Int): Unit = Workload.delete(out(s"c$cycle"))
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String,
      seed: Long): Workload = name match {
    case "filter_corpus" => new FilterCorpus(spark, work, seed)
    case "dedup_crawl" => new DedupCrawl(spark, work, seed)
    case "profile_versions" => new ProfileVersions(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names = Seq("filter_corpus", "dedup_crawl", "profile_versions")

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Regular files under `dir`: relative path -> size in bytes. */
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          b += root.relativize(f).toString -> java.nio.file.Files.size(f)
        }
        b.result()
      } finally s.close()
    }
  }

  def parquetFiles(l: Map[String, Long], prefix: String): Long =
    l.keys.count(k => k.startsWith(prefix) && k.endsWith(".parquet")).toLong

  def utf8Bytes(s: String): Long = s.getBytes(UTF_8).length.toLong
}

/** North-rule path: `QualityFilterJob.run` over the golden ids 0-1999
  * (checked against fixtures/golden/labels.jsonl) plus a seed-offset
  * window of `Corpus.genRow` files. The input is split into `Chunks`
  * chunks, one op each, so every cycle covers all 2000 golden ids.
  */
final class FilterCorpus(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  import FilterCorpus._
  import spark.implicits._

  val name = "filter_corpus"
  val opsPerCycle = Chunks

  private var chunkRows = Array.empty[Long]
  private var chunkBytes = Array.empty[Long]
  private var chunkGolden = Array.empty[Set[String]]
  /** commit -> (keep, scrubbed sha256) from the golden labels. */
  private var golden = Map.empty[String, (Boolean, String)]

  private def chunkIds(c: Int): Seq[Long] = {
    val g = GoldenRows / Chunks
    val w = WindowRows / Chunks
    val off = WindowBase + seed * WindowStride
    (c * g until (c + 1) * g).map(_.toLong) ++
      (off + c * w until off + (c + 1) * w)
  }

  def prepare(): Unit = {
    golden = spark.read.json(GoldenLabels)
      .select($"commit", $"keep", $"scrubbed_sha256").as[(String, Boolean, String)]
      .collect().map { case (c, k, s) => c -> ((k, s)) }.toMap
    require(golden.size == GoldenRows, s"golden labels: ${golden.size} rows")
    val chunks = (0 until Chunks).map(c => chunkIds(c).map(Corpus.genRow))
    spark.createDataset(chunks.zipWithIndex.flatMap { case (rows, c) =>
      rows.map(r => (c, r.repo, r.path, r.commit, r.lang, r.content))
    }).toDF("chunk", "repo", "path", "commit", "lang", "content")
      .write.mode("overwrite").partitionBy("chunk").parquet(in("chunks"))
    chunkRows = chunks.map(_.size.toLong).toArray
    chunkBytes = chunks.map(_.map(r => Workload.utf8Bytes(r.content)).sum).toArray
    chunkGolden = chunks.map(_.map(_.commit).filter(golden.contains).toSet).toArray
  }

  private def chunk(pos: Int) = in(s"chunks/chunk=$pos")

  def catalogDir(cycle: Int, pos: Int): String = out(s"c$cycle/p$pos")

  def runOp(cycle: Int, pos: Int, tr: Tracer): Any =
    if (!tr.enabled) QualityFilterJob.run(spark, chunk(pos), catalogDir(cycle, pos))
    else replica(chunk(pos), catalogDir(cycle, pos), tr)

  /** `QualityFilterJob.run` on a fresh catalog (the only case an op
    * meets: nothing to resume), call for call, with layer spans.
    */
  private def replica(input: String, outDir: String,
      tr: Tracer): (Long, Long, Int) = {
    val cat = new ParquetCatalog(outDir)
    val (lm, km) = tr.span("filter.load_models") {
      (spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath)),
        spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath)))
    }
    val done: Set[Int] = tr.span("catalog.read") {
      cat.read(spark, "metrics")
        .map(_.select("bucket").distinct().as[Int].collect().toSet)
        .getOrElse(Set.empty)
    }
    val todo = tr.span("input.scan") {
      val all = spark.read.parquet(input).as[FileRecord]
      require(done.isEmpty && !all.isEmpty, s"$outDir: resumed or empty input")
      all
    }
    val v = tr.span("filter.plan") {
      QualityFilter.verdicts(spark, todo, lm, km).cache()
    }
    tr.span("catalog.overwrite") {
      cat.overwritePartitions(v.toDF(), "verdicts", Seq("bucket"))
    }
    tr.span("catalog.marker") {
      cat.appendMarker(QualityFilter.metrics(v).toDF(), "metrics")
    }
    val agg = tr.span("filter.tally") {
      v.agg(
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(!col("keep"), 1L).otherwise(0L))).head()
    }
    tr.span("spark.unpersist") { v.unpersist() }
    (agg.getLong(0), agg.getLong(1), 0)
  }

  def check(cycle: Int, pos: Int, result: Any): Checked = {
    val (kept, dropped, _) = result.asInstanceOf[(Long, Long, Int)]
    val rows = spark.read.parquet(s"${catalogDir(cycle, pos)}/verdicts")
      .select($"commit", $"keep", $"scrubbed_sha256",
        concat_ws(",", $"drop_reasons"), concat_ws(",", $"pii_types"))
      .as[(String, Boolean, String, String, String)].collect()
    val digest = Workload.sha256(rows.map(r => r.productIterator.mkString("|"))
      .sorted.mkString("\n"))
    val n = chunkRows(pos)
    val byCommit = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    var tp, fp, fn, shaMiss, missing = 0L
    chunkGolden(pos).foreach { c =>
      val (gKeep, gSha) = golden(c)
      byCommit.get(c) match {
        case None => missing += 1
        case Some((keep, sha)) =>
          if (keep && gKeep) tp += 1
          if (keep && !gKeep) fp += 1
          if (!keep && gKeep) fn += 1
          if (sha != gSha) shaMiss += 1
      }
    }
    val f1 = if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    val errors = Seq(
      (rows.length != n) -> s"${rows.length} verdict rows for $n input rows",
      (byCommit.size != n) -> s"${byCommit.size} distinct commits for $n rows",
      (kept + dropped != n) -> s"kept $kept + dropped $dropped != $n",
      (missing > 0) -> s"$missing golden ids missing",
      (f1 < 0.99) -> f"golden F1 $f1%.4f < 0.99",
      (shaMiss > 0) -> s"$shaMiss scrubbed sha256 mismatches")
      .collect { case (true, msg) => msg }
    Checked(errors.isEmpty, digest, errors.mkString("; "))
  }

  def records(pos: Int): Dataset[FileRecord] =
    spark.read.parquet(chunk(pos)).as[FileRecord]
  def rows(pos: Int): Long = chunkRows(pos)
  def inputBytes(pos: Int): Long = chunkBytes(pos)
  def filesRead(pos: Int, before: Map[String, Long],
      after: Map[String, Long]): Long =
    Workload.parquetFiles(before, "metrics/")
}

object FilterCorpus {
  val GoldenLabels = "fixtures/golden/labels.jsonl"
  val GoldenRows = 2000
  val Chunks = 2
  val WindowRows = 2000
  /** Window ids start past the golden ids and far below Corpus.CleanOffset. */
  val WindowBase = 1000000L
  val WindowStride = 100000L
}

/** q43/q44 shape: a fresh signature catalog is seeded with `commitBatch`
  * over a base corpus (untimed, once per cycle), then each op is one
  * `IncrementalDedup.deltaStep` over a delta batch, pairs collected. Each
  * batch plants exact copies of base docs and of earlier deltas; the check
  * demands exactly the planted pairs.
  */
final class DedupCrawl(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  import DedupCrawl._
  import spark.implicits._

  val name = "dedup_crawl"
  val opsPerCycle = Batches

  /** Planted pairs per batch; a doc's text is `docText` of its key. */
  private var expected = Array.empty[Set[(Long, Long)]]
  private var batchBytes = Array.empty[Long]
  private var base: DataFrame = _
  private var batches = Array.empty[DataFrame]

  private def keyBase = seed * 10000000L

  def prepare(): Unit = {
    val rng = new java.util.Random(Corpus.mix(seed * 31 + 7))
    val baseKeys = (0L until BaseDocs).map(id => id -> (keyBase + id))
    val fresh = mutable.ArrayBuffer[Long]() // keys of earlier deltas' fresh docs
    val keys = (1 to Batches).map { b =>
      val fromBase = pick(rng, BaseDocs.toInt, CopiesOfBase).map(keyBase + _)
      val fromDeltas = pick(rng, fresh.size, CopiesOfDelta).map(fresh(_))
      val copies = fromBase ++ fromDeltas
      val batch = (0 until BatchDocs).map { j =>
        b * 1000000L + j ->
          (if (j < copies.size) copies(j) else keyBase + 5000000L + b * 10000L + j)
      }
      fresh ++= batch.drop(copies.size).map(_._2)
      batch
    }
    // planted pairs of batch b: every new doc with every other doc of the
    // same text among the base and batches 1..b
    val byKey = mutable.Map[Long, List[Long]]()
    def add(docs: Seq[(Long, Long)]): Unit =
      docs.foreach { case (id, k) => byKey(k) = id :: byKey.getOrElse(k, Nil) }
    add(baseKeys)
    expected = keys.map { batch =>
      add(batch)
      batch.flatMap { case (id, k) =>
        byKey(k).filter(_ != id).map(o => (math.min(id, o), math.max(id, o)))
      }.toSet
    }.toArray
    batchBytes = keys.map(_.map(p => Workload.utf8Bytes(text(p._2))).sum).toArray

    // one write: part 0 is the base corpus, part b the b-th delta batch
    spark.createDataset((baseKeys +: keys).zipWithIndex.flatMap { case (d, part) =>
      d.map { case (id, k) => (part, id, text(k)) }
    }).toDF("part", "doc_id", "text")
      .write.mode("overwrite").partitionBy("part").parquet(in("docs"))
    base = spark.read.parquet(in("docs/part=0"))
    batches = (1 to Batches).map(b => spark.read.parquet(in(s"docs/part=$b"))).toArray
  }

  private def text(key: Long): String = DedupScaleBench.docText(key)

  /** `min(n, bound)` distinct indexes in [0, bound). */
  private def pick(rng: java.util.Random, bound: Int, n: Int): Seq[Int] = {
    val s = mutable.LinkedHashSet[Int]()
    while (s.size < math.min(n, bound)) s += rng.nextInt(bound)
    s.toSeq
  }

  private def catalog(cycle: Int) = out(s"c$cycle/catalog")
  def catalogDir(cycle: Int, pos: Int): String = catalog(cycle)

  override def beginCycle(cycle: Int): Unit =
    IncrementalDedup.commitBatch(base, 0L, catalog(cycle), Threshold)

  def runOp(cycle: Int, pos: Int, tr: Tracer): Any =
    if (!tr.enabled)
      IncrementalDedup.deltaStep(spark, batches(pos), pos + 1L, catalog(cycle),
        Threshold).collect()
    else replica(batches(pos), pos + 1L, catalog(cycle), tr)

  /** `IncrementalDedup.deltaStep` (default cap and broadcast limit), call
    * for call, with layer spans; pairs collected as in the untraced op.
    */
  private def replica(batchDocs: DataFrame, batchId: Long, catalogDir: String,
      tr: Tracer): Any = {
    val (bDir, _) = tr.span("queries.commit_batch") {
      IncrementalDedup.commitBatch(batchDocs, batchId, catalogDir, Threshold,
        TrainingOps.ShingleDfCap)
    }
    val (allB, allS, newB, newRows) = tr.span("catalog.read") {
      val allB = spark.read.parquet(s"$catalogDir/buckets")
      val allS = spark.read.parquet(s"$catalogDir/sets")
      val newB = spark.read.parquet(bDir)
      (allB, allS, newB, newB.count())
    }
    tr.span("queries.delta_pairs") {
      IncrementalDedup.deltaPairs(newB, allB, allS, Threshold,
        broadcastDelta = newRows <= IncrementalDedup.BroadcastDeltaMaxRows)
        .collect()
    }
  }

  private def pairsOf(result: Any): Seq[(Long, Long, String)] =
    result.asInstanceOf[Array[org.apache.spark.sql.Row]].toSeq.map { r =>
      (r.getLong(0), r.getLong(1), r.toSeq.drop(2).mkString("|"))
    }

  def check(cycle: Int, pos: Int, result: Any): Checked = {
    val pairs = pairsOf(result)
    val got = pairs.map(p => (p._1, p._2)).toSet
    val want = expected(pos)
    val digest = Workload.sha256(pairs.map(p => s"${p._1}|${p._2}|${p._3}")
      .sorted.mkString("\n"))
    val errors = Seq(
      (got.size != pairs.size) -> s"${pairs.size - got.size} duplicate pairs",
      (got != want) ->
        s"pairs differ from planted: ${(got -- want).size} extra, ${(want -- got).size} missing")
      .collect { case (true, msg) => msg }
    Checked(errors.isEmpty, digest, errors.mkString("; "))
  }

  /** Candidate pairs of the op: the same delta join, verified at
    * threshold 0 so every candidate survives.
    */
  override def layerCounts(cycle: Int, pos: Int, result: Any): Map[String, Double] = {
    val dir = catalog(cycle)
    val candidates = IncrementalDedup.deltaPairs(
      spark.read.parquet(s"$dir/buckets/batch=${pos + 1}"),
      spark.read.parquet(s"$dir/buckets"), spark.read.parquet(s"$dir/sets"),
      0.0).count().toDouble
    Map("queries.candidates" -> candidates,
      "queries.pairs" -> pairsOf(result).size.toDouble)
  }

  def records(pos: Int): Dataset[FileRecord] =
    batches(pos).as[(Long, String)].map { case (id, t) =>
      FileRecord("bench/crawl", s"doc/$id.txt", id.toString, "text", t)
    }
  def rows(pos: Int): Long = BatchDocs.toLong
  def inputBytes(pos: Int): Long = batchBytes(pos)
  def filesRead(pos: Int, before: Map[String, Long],
      after: Map[String, Long]): Long =
    Workload.parquetFiles(after, "buckets/") + Workload.parquetFiles(after, "sets/") +
      Workload.parquetFiles(after, s"buckets/batch=${pos + 1}/")
}

object DedupCrawl {
  val Threshold = 0.9
  /** Above TrainingOps.ShingleDfCap, so the shared boilerplate prefix of
    * DedupScaleBench.docText is capped as hot.
    */
  val BaseDocs = 1500L
  val Batches = 4
  val BatchDocs = 200
  val CopiesOfBase = 12
  val CopiesOfDelta = 6
}

/** The reference's own capability: `Slices` seeded slices of nested JSON
  * profiled by `ProfileJob.run` as versions 1..K of one dictionary. The
  * generator declares each slice's `path:type` list, so the schema hash is
  * known in advance.
  */
final class ProfileVersions(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  import ProfileVersions._
  import spark.implicits._

  val name = "profile_versions"
  val opsPerCycle = Slices
  // a cycle is short: one more keeps the first timed ops off the JIT slope
  override val warmupCycles = 2

  private var slices = Array.empty[DataFrame]
  private var sliceBytes = Array.empty[Long]
  private var hashes = Array.empty[String]

  def prepare(): Unit = {
    val docs = (1 to Slices).map(k => (0 until Docs).map(i => doc(k, i)))
    spark.createDataset(docs.zipWithIndex.flatMap { case (d, i) =>
      d.map(j => (i + 1, j))
    }).toDF("slice", "json")
      .write.mode("overwrite").partitionBy("slice").parquet(in("slices"))
    slices = (1 to Slices).map(k => spark.read.parquet(in(s"slices/slice=$k")))
      .toArray
    sliceBytes = docs.map(_.map(Workload.utf8Bytes).sum).toArray
    hashes = (1 to Slices).map(k => Workload.sha256(
      declared(k).map { case (p, t) => s"$p:$t" }.sorted.mkString("|"))).toArray
  }

  /** Every path the generator emits in slice `k`, with its inferred type. */
  private def declared(k: Int): Seq[(String, String)] = Seq(
    "id" -> "integer", "active" -> "boolean", "amount" -> "float",
    "score" -> "integer", "tags" -> "array", "user" -> "object",
    "user.name" -> "string", "user.email" -> "string",
    "user.phone" -> "string", "user.ssn" -> "string",
    "user.address" -> "object", "user.address.city" -> "string",
    "user.address.zip" -> (if (k % 2 == 1) "integer" else "string"),
    "user.address.geo" -> "object", "user.address.geo.lat" -> "float",
    "user.address.geo.lon" -> "float", "orders" -> "array",
    "orders.order_id" -> "integer", "orders.total" -> "float",
    "orders.items" -> "array", "orders.items.sku" -> "string",
    "orders.items.qty" -> "integer") ++
    (if (k >= 2) Seq("referrer" -> "string") else Nil)

  /** Doc `i` of slice `k`: depth 4, arrays of objects, int/float mix in
    * `amount`, nullable `score`, email/phone/SSN strings, `referrer`
    * added from slice 2 and `user.address.zip` flipping int/string.
    */
  private def doc(k: Int, i: Int): String = {
    val r = new java.util.Random(Corpus.mix(seed * 1000003L + k * 100003L + i))
    def w: String = Words(r.nextInt(Words.length))
    def f(v: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(v))
    val amount =
      if (r.nextInt(3) == 0) (r.nextInt(500) + 1).toString
      else f(r.nextInt(50000) / 100.0 + 0.01)
    val score = if (i % 4 == 0) "null" else r.nextInt(100).toString
    val zip = 10000 + r.nextInt(89999)
    val zipJson = if (k % 2 == 1) zip.toString else "\"" + zip + "\""
    val tags = (0 until r.nextInt(4)).map(_ => "\"" + w + "\"").mkString(",")
    val nOrders = if (i == 0) 1 + r.nextInt(3) else r.nextInt(4)
    val orders = (0 until nOrders).map { o =>
      val items = (0 until 1 + r.nextInt(3)).map { _ =>
        s"""{"sku":"${w.toUpperCase(Locale.ROOT)}-${r.nextInt(1000)}","qty":${1 + r.nextInt(9)}}"""
      }.mkString(",")
      s"""{"order_id":${i * 10 + o},"total":${f(r.nextInt(100000) / 100.0 + 0.5)},"items":[$items]}"""
    }.mkString(",")
    val user =
      s""""user":{"name":"${w}_$i","email":"$w.$i@example.com",""" +
        s""""phone":"${200 + r.nextInt(800)}-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}",""" +
        s""""ssn":"${100 + r.nextInt(800)}-${10 + r.nextInt(89)}-${1000 + r.nextInt(9000)}",""" +
        s""""address":{"city":"$w","zip":$zipJson,""" +
        s""""geo":{"lat":${f(r.nextInt(18000) / 100.0 - 89.5)},"lon":${f(r.nextInt(36000) / 100.0 - 179.5)}}}}"""
    val referrer = if (k >= 2) s""","referrer":"$w"""" else ""
    s"""{"id":${k * 1000000 + i},"active":${r.nextBoolean()},"amount":$amount,""" +
      s""""score":$score,"tags":[$tags],$user,"orders":[$orders]$referrer}"""
  }

  private def dirOf(cycle: Int) = out(s"c$cycle")
  def catalogDir(cycle: Int, pos: Int): String = dirOf(cycle)

  def runOp(cycle: Int, pos: Int, tr: Tracer): Any =
    if (!tr.enabled) ProfileJob.run(spark, slices(pos), "json", dirOf(cycle), Dict)
    else replica(slices(pos), "json", dirOf(cycle), tr)

  /** `ProfileJob.run` (no record cap), call for call, with layer spans. */
  private def replica(input: DataFrame, jsonCol: String, outDir: String,
      tr: Tracer): (Int, String, Dataset[FieldProfile]) = {
    val valid = input.filter(
      length(col(jsonCol)).cast("long") <= ProfileJob.MaxContentBytes)
    val profiles = tr.span("profile.detect") {
      Analysis.profileAutoDetect(spark, valid, jsonCol, 0L).cache()
    }
    val hash = tr.span("profile.schema_hash") { Profiler.schemaHash(profiles) }
    val version = tr.span("catalog.read") {
      ProfileJob.latestVersion(spark, outDir, Dict) + 1
    }
    val cat = new ParquetCatalog(outDir)
    tr.span("catalog.overwrite") {
      cat.overwritePartitions(
        profiles.toDF()
          .withColumn("dictionary", lit(Dict))
          .withColumn("version_number", lit(version)),
        "fields", Seq("dictionary", "version_number"))
    }
    val nFields = tr.span("profile.count") { profiles.count() }
    tr.span("catalog.marker") {
      cat.appendMarker(
        Seq((Dict, version, hash, nFields))
          .toDF("dictionary", "version_number", "schema_hash", "n_fields"),
        "versions")
    }
    if (version == 1) tr.span("catalog.marker") {
      cat.appendMarker(
        Seq((Dict, 1)).toDF("dictionary", "created_version"), "dictionaries")
    }
    (version, hash, profiles)
  }

  def check(cycle: Int, pos: Int, result: Any): Checked = {
    val (version, hash, profiles) =
      result.asInstanceOf[(Int, String, Dataset[FieldProfile])]
    try {
      val fields = profiles.collect()
      val digest = Workload.sha256(hash + "\n" + fields.map { p =>
        s"${p.fieldPath}:${p.dataType}:${p.totalCount}:${p.nullCount}:${p.position}"
      }.sorted.mkString("\n"))
      val rootCount = fields.find(_.fieldPath == "id").map(_.totalCount)
      val errors = Seq(
        (version != pos + 1) -> s"version $version, expected ${pos + 1}",
        (hash != hashes(pos)) -> s"schema hash $hash != declared ${hashes(pos)}",
        (!rootCount.contains(Docs.toLong)) -> s"root totalCount $rootCount != $Docs")
        .collect { case (true, msg) => msg }
      Checked(errors.isEmpty, digest, errors.mkString("; "))
    } finally profiles.unpersist()
  }

  override def endCycle(cycle: Int): Option[String] = {
    val versions = spark.read.parquet(s"${dirOf(cycle)}/versions")
      .filter($"dictionary" === Dict).select($"version_number").as[Int]
      .collect().sorted.toSeq
    if (versions == (1 to Slices)) None
    else Some(s"versions table holds ${versions.mkString(",")}, expected 1..$Slices")
  }

  def records(pos: Int): Dataset[FileRecord] =
    slices(pos).as[String].map { j =>
      FileRecord("bench/json", "doc.json", "", "json", j)
    }
  def rows(pos: Int): Long = Docs.toLong
  def inputBytes(pos: Int): Long = sliceBytes(pos)
  def filesRead(pos: Int, before: Map[String, Long],
      after: Map[String, Long]): Long =
    Workload.parquetFiles(before, "versions/")
}

object ProfileVersions {
  val Dict = "bench_dict"
  val Slices = 4
  val Docs = 5000
  private val Words = Array("alpha", "handler", "config", "stream", "worker",
    "parse", "merge", "token", "index", "buffer", "cache", "shard")
}
