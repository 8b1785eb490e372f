package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileUtil
import org.apache.hadoop.io.nativeio.NativeIO

import graft.SparkSpec
import graft.filter.TinyCorpus
import graft.jobs.QualityFilterJob
import graft.queries.IncrementalDedup

/** The engine's writes fork no process: a JFR recording of
  * `jdk.ProcessStart` around a quality-filter run, one dedup delta step
  * and one catalog replace names none of their output directories. The
  * recording is dumped and read back after it stops, so every event is
  * in the file before it is read. A plain session write in the same
  * recording is the positive control: without native IO the stock local
  * FileSystem forks `chmod` for it.
  */
class NoSpawnWriteSpec extends SparkSpec {
  import spark.implicits._

  private def words(i: Int) = {
    val r = new scala.util.Random(7000 + i)
    Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
  }

  test("filter run, dedup delta step and catalog replace spawn no chmod") {
    val corpus = TinyCorpus.path
    val root = Files.createTempDirectory("graft_nospawn").toRealPath()
    val Seq(filterOut, dedupCat, replaceCat, control) =
      Seq("filter", "dedup", "replace", "control").map(root.resolve(_).toString)
    val seedDocs = (0 until 40).map(i => (i.toLong, words(i))).toDF("doc_id", "text")
    val newDocs = (40 until 60).map(i => (i.toLong, words(i)))
      .toDF("doc_id", "text")
    val jfr = root.resolve("spawns.jfr")
    val rec = new Recording()
    val commands =
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        QualityFilterJob.run(spark, corpus, filterOut)
        IncrementalDedup.commitBatch(seedDocs, 0L, dedupCat, 0.9)
        IncrementalDedup.deltaStep(spark, newDocs, 1L, dedupCat, 0.9).collect()
        val cat = new ParquetCatalog(replaceCat)
        cat.replace(seedDocs, "docs", Seq("doc_id"))
        cat.replace(newDocs, "docs")
        seedDocs.write.parquet(control)
        rec.stop()
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally {
        rec.close()
        FileUtil.fullyDelete(root.toFile)
      }
    Seq(filterOut, dedupCat, replaceCat).foreach { dir =>
      val hits = commands.filter(_.contains(dir))
      assert(hits.isEmpty, s"${hits.size} spawns under $dir, e.g. ${hits.take(2)}")
    }
    if (!NativeIO.isAvailable)
      assert(commands.exists(c => c.startsWith("chmod") && c.contains(control)),
        "the recording saw no chmod for the stock-FS control write")
  }
}
