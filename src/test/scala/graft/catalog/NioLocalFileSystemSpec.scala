package graft.catalog

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** Permission parity of [[NioLocalFileSystem]] with the stock
  * `LocalFileSystem`: every operation is run once through each, in twin
  * directories, and the resulting mode bits (`unix:mode & 07777`, which
  * covers `getPosixFilePermissions` plus setuid/setgid/sticky) must match.
  */
class NioLocalFileSystemSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft_niofs")
  override def afterAll(): Unit = FileUtil.fullyDelete(root.toFile)

  private val fileUri = URI.create("file:///")

  /** A fresh, uncached FileSystem per side, under the same umask. */
  private def stock(): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(fileUri, new Configuration())
    fs
  }
  private def nio(): FileSystem = {
    val conf = new Configuration()
    ParquetCatalog.LocalWriteOptions.foreach { case (k, v) => conf.set(k, v) }
    FileSystem.get(fileUri, conf)
  }

  private val SetGid = 0x400 // octal 02000

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Twin dirs `<root>/<name>/{stock,nio}` and the two file systems. */
  private def twins(name: String): Seq[(FileSystem, JPath)] = Seq(
    stock() -> Files.createDirectories(root.resolve(s"$name/stock")),
    nio() -> Files.createDirectories(root.resolve(s"$name/nio")))

  private def hpath(p: JPath) = new Path(p.toUri)

  /** Mode of `rel` under each twin, stock first. */
  private def modes(sides: Seq[(FileSystem, JPath)], rel: String): (Int, Int) = {
    val Seq(a, b) = sides.map { case (_, d) => mode(d.resolve(rel)) }
    (a, b)
  }

  private def assertSame(sides: Seq[(FileSystem, JPath)], rel: String): Unit = {
    val (s, n) = modes(sides, rel)
    assert(s == n, f"$rel: stock 0$s%o, nio 0$n%o")
    val Seq(ps, pn) = sides.map { case (_, d) =>
      Files.getPosixFilePermissions(d.resolve(rel)) }
    assert(ps == pn, rel)
  }

  test("writer options select the new class; the session's FS stays the cached stock one") {
    assert(nio().getClass == classOf[NioLocalFileSystem])
    assert(!(nio() eq nio()), "the writer's file: FS must not be cached")
    val sessionConf = spark.sparkContext.hadoopConfiguration
    val a = FileSystem.get(fileUri, sessionConf)
    // the class Hadoop registers for file: (a service-loaded wrapper of
    // LocalFileSystem when Hive's jars are on the classpath)
    assert(a.getClass == FileSystem.getFileSystemClass("file", sessionConf))
    assert(!a.isInstanceOf[NioLocalFileSystem])
    assert(a eq FileSystem.get(fileUri, sessionConf))
  }

  test("create: the file and its .crc sidecar get the stock bits") {
    val sides = twins("create")
    sides.foreach { case (fs, d) =>
      val out = fs.create(hpath(d.resolve("part-0.parquet")))
      out.write(Array[Byte](1, 2, 3))
      out.close()
    }
    assertSame(sides, "part-0.parquet")
    assertSame(sides, ".part-0.parquet.crc")
  }

  /** `mkdirs` with a permission, the call that sets it (the one-argument
    * raw `mkdirs` sets none): at once for `nested`, level by level for
    * `levels`.
    */
  private def mkdirs(fs: FileSystem, d: JPath, rel: String): Unit =
    assert(fs.mkdirs(hpath(d.resolve(rel)), FsPermission.getDirDefault))

  private val levels = Seq("a", "a/b", "a/b/c", "a/b/c/d")

  test("nested mkdirs: every level gets the stock bits") {
    val sides = twins("mkdirs")
    sides.foreach { case (fs, d) =>
      mkdirs(fs, d, "nested/a/b/c/d")
      levels.foreach(mkdirs(fs, d, _))
    }
    levels.foreach(l => assertSame(sides, s"nested/$l"))
    levels.foreach(assertSame(sides, _))
  }

  test("setPermission over fixed and seeded modes, one after another on one file") {
    val sides = twins("modes")
    sides.foreach { case (fs, d) => fs.create(hpath(d.resolve("f"))).close() }
    val rnd = new scala.util.Random(8)
    val octal = Seq("0000", "0777", "0640", "0755", "0700", "0444")
      .map(Integer.parseInt(_, 8)) ++ Seq.fill(32)(rnd.nextInt(0x200))
    octal.foreach { m =>
      sides.foreach { case (fs, d) =>
        fs.setPermission(hpath(d.resolve("f")), new FsPermission(m.toShort)) }
      val (s, n) = modes(sides, "f")
      assert(s == m && n == m, f"mode 0$m%o: stock 0$s%o, nio 0$n%o")
    }
  }

  test("a sticky mode takes the stock path and ends with the same bits") {
    val sides = twins("sticky")
    val sticky = Integer.parseInt("1755", 8)
    sides.foreach { case (fs, d) =>
      mkdirs(fs, d, "t")
      fs.setPermission(hpath(d.resolve("t")), new FsPermission(sticky.toShort))
    }
    assertSame(sides, "t")
    assert(modes(sides, "t")._2 == sticky)
  }

  test("mkdirs under a setgid directory keeps setgid on every level") {
    val sides = twins("setgid")
    sides.foreach { case (fs, d) =>
      mkdirs(fs, d, "g")
      // FsPermission has no setgid bit: a shared group directory gets it
      // from outside Hadoop, and new directories inherit it
      val g = d.resolve("g").toString
      assert(new ProcessBuilder("chmod", "2775", g).start().waitFor() == 0)
      levels.foreach(l => mkdirs(fs, d, s"g/$l"))
      fs.create(hpath(d.resolve("g/a/f"))).close()
    }
    ("g" +: levels.map(l => s"g/$l") :+ "g/a/f").foreach(assertSame(sides, _))
    assert((modes(sides, "g/a/b")._1 & SetGid) != 0, "setgid not inherited")
  }
}
