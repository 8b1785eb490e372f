package graft.filter

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.jobs.BuildFixtures
import graft.model.FileRecord

/** THE north-rule gate (BASELINE.json metric): keep/drop F1 ≥ 0.99 and
  * byte-identical scrubbed content (sha256 per row) vs the golden labels
  * emitted by tools/make_golden.py (Python harness importing the reference
  * PII detector from /root/reference).
  *
  * Prereq artifacts (committed): fixtures/golden/labels.jsonl and the model
  * files; regenerate with `sbt "runMain graft.jobs.BuildFixtures"` then
  * `python3 tools/make_golden.py`. The corpus itself comes from
  * [[TinyCorpus]].
  */
class GoldenParitySpec extends SparkSpec {
  test("keep/drop F1 >= 0.99 and scrubbed sha256 100% match vs golden") {
    import spark.implicits._
    val corpus = spark.read.parquet(TinyCorpus.path).as[FileRecord]
    val lm = spark.sparkContext.broadcast(LangId.load(BuildFixtures.LangIdModelPath))
    val km = spark.sparkContext.broadcast(KnLm.load(BuildFixtures.KnLmModelPath))
    val v = QualityFilter.verdicts(spark, corpus, lm, km)
      .select($"commit", $"keep", $"scrubbed_sha256", $"pii_types", $"drop_reasons")
    val golden = spark.read.json("fixtures/golden/labels.jsonl")
      .select($"commit", $"keep".as("g_keep"),
        $"scrubbed_sha256".as("g_sha"), $"pii_types".as("g_pii"),
        $"drop_reasons".as("g_reasons"))

    val joined = v.join(golden, Seq("commit"), "full_outer").cache()
    val n = joined.count()
    assert(n == 2000, s"row count mismatch after join: $n")

    val agg = joined.agg(
      sum(when($"keep" && $"g_keep", 1L).otherwise(0L)).as("tp"),
      sum(when($"keep" && !$"g_keep", 1L).otherwise(0L)).as("fp"),
      sum(when(!$"keep" && $"g_keep", 1L).otherwise(0L)).as("fn"),
      sum(when($"scrubbed_sha256" =!= $"g_sha", 1L).otherwise(0L)).as("shaMiss"),
      sum(when(concat_ws(",", $"pii_types") =!= concat_ws(",", $"g_pii"), 1L)
        .otherwise(0L)).as("piiMiss"),
      sum(when(concat_ws(",", $"drop_reasons") =!= concat_ws(",", $"g_reasons"), 1L)
        .otherwise(0L)).as("reasonMiss")
    ).head()
    val (tp, fp, fn) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    info(f"tp=$tp fp=$fp fn=$fn F1=$f1%.6f shaMiss=${agg.getLong(3)} " +
      s"piiMiss=${agg.getLong(4)} reasonMiss=${agg.getLong(5)}")
    if (fp + fn > 0 || agg.getLong(3) > 0)
      joined.filter($"keep" =!= $"g_keep" || $"scrubbed_sha256" =!= $"g_sha")
        .select($"commit", $"keep", $"g_keep", $"drop_reasons", $"g_reasons")
        .show(10, false)
    assert(f1 >= 0.99, s"keep/drop F1 $f1 below 0.99")
    assert(agg.getLong(3) == 0, s"${agg.getLong(3)} scrubbed sha256 mismatches")
    // stricter than the gate, but should hold by construction:
    assert(agg.getLong(4) == 0, "pii_types mismatch")
    assert(agg.getLong(5) == 0, "drop_reasons mismatch")
  }
}
