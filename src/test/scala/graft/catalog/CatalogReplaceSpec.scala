package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.jobs.ProfileJob
import graft.model.FieldProfile
import graft.queries.IncrementalDedup
import graft.streaming.StreamingProfileJob

/** Crash windows of [[ParquetCatalog.replace]], table-driven: every
  * on-disk state the swap can leave behind is built with plain file
  * operations under each caller of the swap, from the live table before
  * the caller's operation and a complete copy of the table after an
  * uninterrupted run (a twin catalog's). Per case:
  *  1. `read` returns exactly the old or the new rows;
  *  2. re-running the operation equals an uninterrupted run;
  *  3. no sibling survives the next replace;
  *  4. a second `read` changes nothing, on disk or in its rows.
  */
class CatalogReplaceSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  /** A caller of the swap: `prepare` builds the catalog `op` starts from;
    * `op` replaces `table` (under `catDir(root)`), and an interrupted
    * `op` is judged against an uninterrupted one on `observe`.
    */
  private case class Caller(name: String, table: String,
      partitionCols: Seq[String], catDir: String => String,
      prepare: String => Unit, op: String => Unit, observe: String => Any)

  /** `reads`: what `read` must return in the state — "old", "new", or
    * "none" (a first-ever write, so the uninterrupted run starts from an
    * absent table too).
    */
  private case class State(name: String, reads: String,
      build: (Path, Path) => Unit)

  private def sibling(live: Path, suffix: String) = Paths.get(s"$live$suffix")

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.toList
      .foreach(q => Files.copy(q, dst.resolve(src.relativize(q).toString)))
    finally s.close()
  }

  /** A rewrite cut short: data without the job's `_SUCCESS` marker. */
  private def partial(dir: Path): Unit = {
    Files.delete(dir.resolve("_SUCCESS"))
    Files.deleteIfExists(dir.resolve("._SUCCESS.crc"))
  }

  private val states = Seq(
    State("partial __rewrite, live intact", "old", { (live, fresh) =>
      copyTree(fresh, sibling(live, "__rewrite"))
      partial(sibling(live, "__rewrite"))
    }),
    State("complete __rewrite, live intact", "old", { (live, fresh) =>
      copyTree(fresh, sibling(live, "__rewrite"))
    }),
    State("live moved to __old, complete __rewrite", "new", { (live, fresh) =>
      Files.move(live, sibling(live, "__old"))
      copyTree(fresh, sibling(live, "__rewrite"))
    }),
    State("__rewrite promoted, __old left over", "new", { (live, fresh) =>
      Files.move(live, sibling(live, "__old"))
      copyTree(fresh, live)
    }),
    State("first-ever write, partial __rewrite", "none", { (live, fresh) =>
      FileUtil.fullyDelete(live.toFile)
      copyTree(fresh, sibling(live, "__rewrite"))
      partial(sibling(live, "__rewrite"))
    }))

  private def words(i: Int) = {
    val r = new scala.util.Random(7000 + i)
    Seq.fill(30)("w" + r.nextInt(1000000)).mkString(" ")
  }

  private def docs(ids: Seq[Long], text: Long => String): DataFrame =
    ids.map(i => (i, text(i))).toDF("doc_id", "text")

  private def streamInput(root: String, lines: String*): Unit =
    lines.toDF("doc").coalesce(1).write.mode("append").parquet(s"$root/in")

  private def stream(root: String): Unit =
    StreamingProfileJob.runOnce(spark, s"$root/in", s"$root/out",
      s"$root/ck")

  private val callers = Seq(
    Caller("Dictionaries.delete", "versions", Nil, identity,
      prepare = { root =>
        for ((dict, json) <- Seq("users" -> """{"id": 1}""",
            "users" -> """{"id": 1, "name": "a"}""",
            "items" -> """{"sku": "s-1"}"""))
          ProfileJob.run(spark, Seq(json).toDF("json"), "json", root, dict)
      },
      op = root => Dictionaries.delete(spark, root, "users"),
      observe = root => rows(new ParquetCatalog(root).read(spark, "versions"))),
    Caller("StreamingProfileJob", "current", Nil, root => s"$root/out",
      prepare = { root =>
        streamInput(root, """{"a": 1, "b": "x"}""", """{"a": 2}""")
        stream(root)
        streamInput(root, """{"a": 2.5, "c": true}""")
      },
      op = stream,
      observe = root => (
        spark.read.parquet(s"$root/out/current").as[FieldProfile]
          .collect().toSet,
        spark.read.parquet(s"$root/out/history").count())),
    Caller("IncrementalDedup.compact", "buckets", Seq("batch"), identity,
      prepare = { root =>
        IncrementalDedup.commitBatch(
          docs((0L until 20L), i => words(i.toInt)), 0L, root, 0.9)
        IncrementalDedup.commitBatch(
          docs((20L until 40L) :+ 1000L, i => words((i % 1000).toInt)),
          1L, root, 0.9)
      },
      op = root => IncrementalDedup.compact(spark, root, upTo = 1L),
      observe = { root =>
        val pairs = IncrementalDedup.deltaStep(spark,
          docs(Seq(2000L, 2001L), i => words(if (i == 2000L) 25 else 500)),
          2L, root, 0.9).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        (pairs, IncrementalDedup.batchIds(spark, root, "buckets"),
          IncrementalDedup.batchIds(spark, root, "sets"))
      }))

  /** A table's rows as a multiset; None when the table is absent. */
  private def rows(df: Option[DataFrame]): Option[Map[Row, Int]] =
    df.map(_.collect().groupBy(identity).map { case (r, rs) => r -> rs.length })

  private def listing(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.toList.filter(Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, Files.size(p))).sorted
    finally s.close()
  }

  private val workDir = Files.createTempDirectory("graft_replace")
  private var serial = 0

  private def freshRoot(): String = {
    serial += 1
    Files.createDirectories(workDir.resolve(s"r$serial")).toString
  }

  override def afterAll(): Unit = FileUtil.fullyDelete(workDir.toFile)

  /** Uninterrupted runs of one caller: the table before and after `op`
    * (`after` also kept as a complete copy to build states from), what
    * `observe` then sees, and what it sees when the table never existed.
    */
  private final class Twin(c: Caller) {
    lazy val (before, after, fresh, observed) = {
      val root = freshRoot()
      c.prepare(root)
      val cat = new ParquetCatalog(c.catDir(root))
      val before = rows(cat.read(spark, c.table))
      c.op(root)
      val after = rows(cat.read(spark, c.table))
      val fresh = Paths.get(s"${freshRoot()}/${c.table}")
      copyTree(Paths.get(cat.path(c.table)), fresh)
      (before, after, fresh, c.observe(root))
    }
    lazy val observedFirst: Any = {
      val root = freshRoot()
      c.prepare(root)
      new ParquetCatalog(c.catDir(root)).drop(spark, c.table)
      c.op(root)
      c.observe(root)
    }
  }

  for (c <- callers) {
    val twin = new Twin(c)
    for (s <- states) test(s"${c.name} on ${c.table}: ${s.name}") {
      val root = freshRoot()
      c.prepare(root)
      val cat = new ParquetCatalog(c.catDir(root))
      val live = Paths.get(cat.path(c.table))
      s.build(live, twin.fresh)

      val expected = s.reads match {
        case "old" => twin.before
        case "new" => twin.after
        case _ => None
      }
      assert(rows(cat.read(spark, c.table)) === expected)
      val disk = listing(c.catDir(root))
      assert(rows(cat.read(spark, c.table)) === expected)
      assert(listing(c.catDir(root)) === disk, "a second read changed disk")

      c.op(root)
      assert(c.observe(root) ===
        (if (s.reads == "none") twin.observedFirst else twin.observed))

      val next = cat.read(spark, c.table)
        .getOrElse(spark.read.parquet(twin.fresh.toString))
      val nextRows = rows(Some(next))
      cat.replace(next, c.table, c.partitionCols)
      assert(Seq("__rewrite", "__old").map(sibling(live, _))
        .filter(Files.exists(_)) === Nil)
      assert(rows(cat.read(spark, c.table)) === nextRows)
    }
  }
}
