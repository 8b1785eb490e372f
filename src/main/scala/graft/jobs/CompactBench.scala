package graft.jobs

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.functions._

import graft.queries.IncrementalDedup

/** Catalog-compaction datapoint (r5 verdict item 5): a signature catalog
  * accumulated over many small crawl batches degrades the delta's bucket
  * read into a small-files scan — one parquet dir (× shuffle.partitions
  * part files) per batch. This job seeds `batches` mini-batches, runs
  * one delta against the fragmented catalog, compacts
  * ([[IncrementalDedup.compact]]), and runs an equal-sized delta against
  * the folded catalog. Both deltas must find exactly their planted
  * pairs; the report is the two walls plus the on-disk file counts the
  * bucket read touches — the quantity compaction exists to bound.
  *
  * Run: sbt -batch "runMain graft.jobs.CompactBench [n] [batches]"
  * (defaults 100000 docs over 100 batches).
  */
object CompactBench {

  private def countFiles(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(q => java.nio.file.Files.isRegularFile(q)).count()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val perBatch = n / batches
    val deltaN = math.max(500L, perBatch)
    val planted = 20
    val spark = Sessions.scale()
    import spark.implicits._

    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_bench").toString
    val cat = s"$root/catalog"
    try {
      // seed: `batches` mini-commits (the 100-crawl history)
      val t0 = System.nanoTime()
      for (b <- 0 until batches) {
        val lo = b * perBatch
        val batchDf = spark.range(lo, lo + perBatch)
          .map(id => (id.toLong, DedupScaleBench.docText(id)))
          .toDF("doc_id", "text")
        IncrementalDedup.commitBatch(batchDf, b.toLong, cat, 0.9)
      }
      val seedSec = (System.nanoTime() - t0) / 1e9
      val filesBefore = countFiles(s"$cat/buckets")

      def delta(base: Long, batchId: Long): (Long, Double) = {
        val d = spark.range(deltaN).map { id =>
          val i = id.toLong
          if (i < planted) (200000000L + base + i, DedupScaleBench.docText(i))
          else (200000000L + base + i,
            DedupScaleBench.docText(70000000L + base + i))
        }.toDF("doc_id", "text")
        val t = System.nanoTime()
        val found = IncrementalDedup
          .deltaStep(spark, d, batchId, cat, 0.9)
          .filter(col("doc_i") < planted).count()
        (found, (System.nanoTime() - t) / 1e9)
      }

      val (found1, wallFrag) = delta(0L, batches.toLong)
      val tC = System.nanoTime()
      IncrementalDedup.compact(spark, cat, upTo = batches.toLong)
      val compactSec = (System.nanoTime() - tC) / 1e9
      val filesAfter = countFiles(s"$cat/buckets")
      val (found2, wallComp) = delta(1000000L, batches.toLong + 1)

      println(
        f"""{"metric":"compact_bench","n":$n,"batches":$batches,""" +
          f""""delta_n":$deltaN,"planted":$planted,""" +
          f""""seed_sec":$seedSec%.2f,""" +
          f""""bucket_files_before":$filesBefore,"bucket_files_after":$filesAfter,""" +
          f""""delta_fragmented_sec":$wallFrag%.2f,""" +
          f""""compact_sec":$compactSec%.2f,""" +
          f""""delta_compacted_sec":$wallComp%.2f,""" +
          f""""planted_found_frag":$found1,"planted_found_comp":$found2}""")
    } finally FileUtil.fullyDelete(new java.io.File(root))
    spark.stop()
  }
}
