package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.model.FieldProfile
import graft.profile.Profiler

/** Stateful streaming profiler: two availableNow passes (second one a fresh
  * query restarted from the same checkpoint) must converge to the batch
  * profile over the union of the input — totals, types, null % and all.
  */
class StreamingProfileSpec extends SparkSpec {

  test("state persists across restarts; converges to the batch profile") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sprof").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"

    val batch1 = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 2, "b": "y"}""",
      """{"a": 3, "b": "x"}""")
    val batch2 = Seq(
      """{"a": null, "b": "z", "c": true}""",
      """{"a": 4.5, "c": false}""")

    batch1.toDF("doc").coalesce(1).write.mode("append").parquet(in)
    val n1 = StreamingProfileJob.runOnce(spark, in, out, ck)
    assert(n1 == 2L) // paths a, b

    val snap1 = spark.read.parquet(s"$out/current").as[FieldProfile]
      .collect().map(p => p.fieldPath -> p).toMap
    assert(snap1("a").dataType == "integer" && snap1("a").totalCount == 3L)
    assert(snap1("b").sampleValues == Seq("x", "y")) // first-seen unique

    // second pass: NEW files only (f1 already committed in the checkpoint),
    // fresh query restarted from the same checkpoint -> state recovers
    batch2.toDF("doc").coalesce(1).write.mode("append").parquet(in)
    val n2 = StreamingProfileJob.runOnce(spark, in, out, ck)
    assert(n2 == 3L) // a, b updated; c new

    val snap2 = spark.read.parquet(s"$out/current").as[FieldProfile]
      .collect().map(p => p.fieldPath -> p).toMap
    // equals the batch profile over the union
    val union = (batch1 ++ batch2).toDF("doc")
    val batchProfiles = Profiler.profile(spark, union, "doc")
      .collect().map(p => p.fieldPath -> p).toMap
    assert(snap2.keySet == batchProfiles.keySet)
    snap2.keySet.foreach { k =>
      val s = snap2(k); val b = batchProfiles(k)
      assert(s.totalCount == b.totalCount, k)
      assert(s.nullCount == b.nullCount, k)
      assert(s.typesSeen == b.typesSeen, k)
      assert(s.dataType == b.dataType, k)
      assert(s.nullPercentage == b.nullPercentage, k)
      assert(s.sampleValues.toSet == b.sampleValues.toSet, k)
    }
    // int+float promotion across batches: a saw 1,2,3 then 4.5
    assert(snap2("a").dataType == "float")
    assert(snap2("a").nullCount == 1L && snap2("a").totalCount == 5L)
    assert(snap2("c").dataType == "boolean" && snap2("c").totalCount == 2L)
    // history carries one row per updated path per batch
    val history = spark.read.parquet(s"$out/history")
    assert(history.count() == 5L)
  }

  test("an unreadable current/ snapshot fails the next batch loudly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sprof_bad").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    Seq("""{"a": 1}""").toDF("doc").coalesce(1)
      .write.mode("append").parquet(in)
    assert(StreamingProfileJob.runOnce(spark, in, out, ck) == 1L)

    // corrupt every data file of the committed snapshot
    val current = new java.io.File(s"$out/current")
    current.listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else if (f.getName.endsWith(".parquet"))
        Files.write(f.toPath, "not a parquet file".getBytes("UTF-8"))
    }
    Seq("""{"b": 2}""").toDF("doc").coalesce(1)
      .write.mode("append").parquet(in)
    intercept[Exception](StreamingProfileJob.runOnce(spark, in, out, ck))
    // the unreadable snapshot was neither replaced nor deleted
    assert(current.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("a swap cut short after moving current/ aside keeps the old snapshot") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sprof_cut").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    Seq("""{"a": 1}""").toDF("doc").coalesce(1)
      .write.mode("append").parquet(in)
    StreamingProfileJob.runOnce(spark, in, out, ck)
    // the crash window: current/ renamed to current__old, no rewrite yet
    Files.move(java.nio.file.Paths.get(s"$out/current"),
      java.nio.file.Paths.get(s"$out/current__old"))
    Seq("""{"b": 2}""").toDF("doc").coalesce(1)
      .write.mode("append").parquet(in)
    assert(StreamingProfileJob.runOnce(spark, in, out, ck) == 1L)
    val paths = spark.read.parquet(s"$out/current").as[FieldProfile]
      .collect().map(_.fieldPath).toSet
    assert(paths == Set("a", "b"))
    assert(!new java.io.File(s"$out/current__old").exists())
  }

  test("a batch replayed after a crash before its commit leaves history and current as they were") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sprof_replay").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    Seq("""{"a": 1, "b": "x"}""", """{"a": 2}""").toDF("doc").coalesce(1)
      .write.mode("append").parquet(in)
    StreamingProfileJob.runOnce(spark, in, out, ck)
    Seq("""{"a": null, "c": true}""", """{"b": "y", "c": false}""")
      .toDF("doc").coalesce(1).write.mode("append").parquet(in)
    StreamingProfileJob.runOnce(spark, in, out, ck)
    def current = spark.read.parquet(s"$out/current").as[FieldProfile]
      .collect().toSet
    val before = current
    assert(spark.read.parquet(s"$out/history").count() == 5L)
    // the crash window: batch 1's outputs written, its commit not
    Files.delete(java.nio.file.Paths.get(s"$ck/commits/1"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$ck/commits/.1.crc"))
    assert(StreamingProfileJob.runOnce(spark, in, out, ck) == 3L)
    assert(spark.read.parquet(s"$out/history").count() == 5L)
    assert(current == before)
  }
}
