package graft.filter

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.PiiScrub
import graft.model.FileRecord

/** The north-rule pipeline: language-ID + perplexity + heuristic keep/drop
  * + PII/toxicity scrub over a `Dataset[FileRecord]` of source files.
  *
  * Plan shape (one narrow pass end-to-end, no shuffle except the optional
  * range repartition on the lineage bucket):
  *
  *   scan parquet
  *     → repartitionByRange(p, bucket, hash(path))       // skew-breaking
  *     → mapPartitions: langid + KN nll (models broadcast, scored per row)
  *     → Catalyst: heuristics + scrub_pii + keep        // whole-stage codegen
  *     → observe [[tally]] → write verdicts              // one result stage
  *   then the per-bucket metrics rows come from the observed [[tally]]
  *
  * The two model scorers run inside ONE mapPartitions so each row is
  * deserialized once; everything downstream is pure `Column` algebra.
  */
object QualityFilter {
  /** Buckets for metrics/lineage + resume granularity. */
  val MetricsBuckets = 64

  /** The lineage bucket of a file: the unit of `partitionBy(bucket)`
    * writes, per-bucket metrics and resume. The scoring shuffle ranges on
    * this same expression, so the two must never drift apart.
    */
  def bucketOf(repo: Column, path: Column): Column =
    pmod(hash(repo, path), lit(MetricsBuckets))

  final case class Scored(
      repo: String, path: String, commit: String, lang: String,
      content: String, pred_lang: String, lang_margin: Double,
      lang_prob: Double, avg_nll: Double,
      // heuristic text features, extracted in the same per-row pass
      n_chars: Int, alnum_chars: Int, max_line_len: Int, n_lines: Int,
      non_blank_lines: Int, distinct_non_blank: Int, space_only: Boolean)

  /** Corpus-level EXACT dedup ahead of scoring — the standard first
    * stage of a training-data pipeline: one representative survives per
    * distinct content (sha-256 key; winner = lexicographic min
    * (repo, path, commit), deterministic across runs and partitionings).
    *
    * Scale: ONE groupBy on the content digest — uniform hash keys, so no
    * skew and full map-side partial aggregation; min_by carries a single
    * candidate row per key per partition, never the duplicate group.
    * Run it as a snapshot-level pre-stage, NOT inside the resumable
    * bucket protocol: dedup across buckets would couple a bucket's
    * contents to other buckets' completion state.
    */
  def dedupExact(input: Dataset[FileRecord]): Dataset[FileRecord] = {
    val spark = input.sparkSession
    import spark.implicits._
    val all = struct(col("repo"), col("path"), col("commit"), col("lang"),
      col("content"))
    input.toDF()
      .groupBy(sha2(col("content"), 256).as("content_sha"))
      .agg(min_by(all, struct(col("repo"), col("path"), col("commit")))
        .as("rep"))
      .select(col("rep.*"))
      .as[FileRecord]
  }

  /** Score langid + perplexity for every row (single mapPartitions).
    * `repartition = false` scores the input's own partitioning.
    */
  def score(spark: SparkSession, input: Dataset[FileRecord],
      langB: Broadcast[LangId.Model], knB: Broadcast[KnLm.Model],
      repartition: Boolean = true): Dataset[Scored] = {
    import spark.implicits._
    // Range-partition on the lineage bucket: each scoring task holds a
    // contiguous bucket range, so the `partitionBy(bucket)` verdict write
    // opens one writer per bucket plus one per range boundary (at most
    // 64 + parts − 1) instead of every task writing every bucket. The bucket hashes
    // (repo, path), so a mega-repo's rows still spread over all tasks;
    // the hash(path) tiebreak lets a boundary fall inside a bucket, so
    // sampled row counts, not the 64 bucket values, set the balance.
    // Explicit partition count: this stage is CPU-bound (regex bank + two
    // model scorers per row), so AQE's byte-based coalescing must NOT fold
    // it to one task just because the bytes are small — a repartition
    // without a count is coalescible, one with a count is not.
    // 2× cores leaves headroom for uneven per-row scoring cost.
    val part =
      if (repartition)
        input.repartitionByRange(spark.sparkContext.defaultParallelism * 2,
          bucketOf(col("repo"), col("path")), hash(col("path")))
      else input
    part.mapPartitions { it =>
      val lm = langB.value
      val km = knB.value
      it.map { r =>
        val s = LangId.score(lm, r.content)
        val nll = KnLm.avgNll(km, r.content)
        val f = Heuristics.textFeatures(r.content)
        Scored(r.repo, r.path, r.commit, r.lang, r.content,
          s.lang, s.margin, s.prob, nll,
          f.nChars, f.alnumChars, f.maxLineLen, f.nLines,
          f.nonBlankLines, f.distinctNonBlank, f.spaceOnly)
      }
    }
  }

  /** Full verdict frame: per-row keep/drop + scrubbed content + lineage
    * bucket. Column set is the engine's output contract (matched by the
    * golden oracle in tools/make_golden.py).
    */
  def verdicts(spark: SparkSession, input: Dataset[FileRecord],
      langB: Broadcast[LangId.Model], knB: Broadcast[KnLm.Model],
      repartition: Boolean = true): DataFrame = {
    val scored = score(spark, input, langB, knB, repartition)
    val c = col("content")
    val modelReasons = concat(
      when(col("lang_margin") < LangId.MinMargin, array(lit("lang_uncertain")))
        .otherwise(array().cast("array<string>")),
      when(col("avg_nll") > KnLm.MaxAvgNll, array(lit("high_perplexity")))
        .otherwise(array().cast("array<string>")))
    val heuristicReasons = Heuristics.dropReasonsFromFeatures(
      col("n_chars"), col("alnum_chars"), col("max_line_len"), col("n_lines"),
      col("non_blank_lines"), col("distinct_non_blank"), col("space_only"))
    scored.toDF()
      .withColumn("drop_reasons", concat(heuristicReasons, modelReasons))
      .withColumn("keep", size(col("drop_reasons")) === 0)
      .withColumn("scrub", PiiScrub.scrub_pii(c))
      .withColumn("scrubbed", col("scrub.scrubbed"))
      .withColumn("pii_types", col("scrub.pii_types"))
      .withColumn("scrubbed_sha256", sha2(col("scrubbed"), 256))
      .withColumn("perplexity", exp(col("avg_nll")))
      .withColumn("bucket", bucketOf(col("repo"), col("path")))
      .drop("scrub")
  }

  /** The per-row terms [[metrics]] sums per bucket, in its column order. */
  private val terms: Seq[(String, Column)] = Seq(
    "rows_in" -> lit(1L),
    "rows_kept" -> when(col("keep"), 1L).otherwise(0L),
    "rows_dropped" -> when(!col("keep"), 1L).otherwise(0L),
    "bytes_in" -> length(col("content")).cast("long"),
    "bytes_kept" ->
      when(col("keep"), length(col("scrubbed"))).otherwise(0L).cast("long"),
    "pii_rows" -> when(size(col("pii_types")) > 0, 1L).otherwise(0L))

  /** Per-bucket lineage + quality metrics (north rule checkpoint unit). */
  def metrics(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("bucket")).agg(count(lit(1)).as("rows_in"),
      terms.tail.map { case (name, t) => sum(t).as(name) }: _*)

  /** Sums an input row (bucket, its six [[terms]]) into a flat array,
    * bucket-major. */
  private object Tally extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](MetricsBuckets * terms.size)
    def reduce(acc: Array[Long], row: Array[Long]): Array[Long] = {
      val at = row(0).toInt * terms.size - 1
      for (i <- 1 until row.length) acc(at + i) += row(i)
      acc
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      for (i <- a.indices) a(i) += b(i)
      a
    }
    def finish(acc: Array[Long]): Array[Long] = acc
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** [[metrics]] of every bucket as ONE aggregate column, for an
    * `Observation` over verdict rows: bucket b's six sums sit at
    * [6b, 6b + 6) in [[metrics]]' column order.
    */
  val tally: Column = udaf(Tally).apply(
    array(col("bucket").cast("long") +: terms.map(_._2): _*)).as("tally")

  /** [[metrics]]' rows from an observed [[tally]] value: one per bucket
    * that holds rows, in bucket order.
    */
  def tallyRows(observed: Any): Seq[Row] =
    observed.asInstanceOf[collection.Seq[Long]].grouped(terms.size).zipWithIndex
      .collect { case (sums, b) if sums.head > 0 => Row.fromSeq(b +: sums.toSeq) }
      .toSeq

  /** [[tallyRows]] as one partition under the schema [[metrics]] of
    * `verdicts` writes: the frame a commit marker appends. */
  def metricsFrame(verdicts: DataFrame, rows: Seq[Row]): DataFrame = {
    val spark = verdicts.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      metrics(verdicts).schema)
  }
}
