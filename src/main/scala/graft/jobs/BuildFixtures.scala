package graft.jobs

import graft.filter.{KnLm, LangId}
import graft.fixtures.Corpus

/** One-shot fixture builder (FIXTURES.md §1):
  *  - writes the deterministic synthetic corpus (tiny scale, for tests +
  *    golden oracle) to `fixtures/data/corpus_tiny`
  *  - trains the langid + KN-LM models on the clean train split and saves
  *    them to `fixtures/models/{langid.bin,knlm.bin}` (binary, also read by
  *    tools/make_golden.py)
  *
  * Run: `sbt -batch "runMain graft.jobs.BuildFixtures"`.
  */
object BuildFixtures {
  val TinyRows = 2000L
  val TrainRows = 1200L
  val CorpusTinyPath = "fixtures/data/corpus_tiny"
  val LangIdModelPath = "fixtures/models/langid.bin"
  val KnLmModelPath = "fixtures/models/knlm.bin"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.cli("graft-build-fixtures", shuffle = "8")

    new java.io.File("fixtures/models").mkdirs()
    Corpus.writeCorpus(spark, TinyRows, CorpusTinyPath)
    println(s"[fixtures] corpus_tiny: $TinyRows rows -> $CorpusTinyPath")

    val train = Corpus.generateClean(spark, TrainRows).cache()
    val lm = LangId.train(spark, train)
    LangId.save(lm, LangIdModelPath)
    println(s"[fixtures] langid model -> $LangIdModelPath")
    val km = KnLm.train(spark, train)
    KnLm.save(km, KnLmModelPath)
    println(s"[fixtures] knlm model (${km.tri.size()} trigrams) -> $KnLmModelPath")

    // calibration report: score distributions on the tiny corpus
    import spark.implicits._
    val corpus = spark.read.parquet(CorpusTinyPath).as[graft.model.FileRecord]
    val lb = spark.sparkContext.broadcast(lm)
    val kb = spark.sparkContext.broadcast(km)
    val scored = graft.filter.QualityFilter
      .score(spark, corpus, lb, kb, repartition = false)
      .select("lang", "pred_lang", "lang_margin", "avg_nll").cache()
    val acc = scored.filter($"lang" === $"pred_lang").count().toDouble /
      scored.count()
    println(f"[calib] langid accuracy vs label: $acc%.4f")
    scored.selectExpr(
      "percentile(lang_margin, array(0.01,0.05,0.1,0.5)) as margin_q",
      "percentile(avg_nll, array(0.5,0.9,0.95,0.99)) as nll_q")
      .show(false)
    spark.stop()
  }
}
