package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem sets permission bits in-process
  * ([[NioPermissionsFileSystem]]) and leaves the modes a write
  * produces exactly as the stock `chmod` call does.
  */
class FastLocalFileSystemSpec extends SparkSpec {

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the file:// filesystem is the checksum-free one over the nio permissions layer") {
    val fs = FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[FastLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[FastLocalFileSystem].getRaw
      .isInstanceOf[NioPermissionsFileSystem])
  }

  test("a parquet write leaves dirs 0755 and files 0644, with no checksum files") {
    val root = Scratch.processScoped("fastlocalfs_spec", "spec")
    Scratch.deleteRecursively(new java.io.File(root))
    val out = Paths.get(root, "t")
    import spark.implicits._
    (0 until 20).toDF("k").repartition(2).write.parquet(out.toString)
    val entries = Files.walk(out).iterator().asScala.toSeq
    val (dirs, files) = entries.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(!files.exists(_.getFileName.toString.endsWith(".crc")), files)
    dirs.foreach(d => assert(mode(d) == Integer.parseInt("755", 8), s"$d ${mode(d).toOctalString}"))
    files.foreach(f => assert(mode(f) == Integer.parseInt("644", 8), s"$f ${mode(f).toOctalString}"))
  }

  test("setPermission sets plain bits in-process and keeps the sticky bit") {
    val root = Scratch.processScoped("fastlocalfs_spec", "spec")
    val fs = new NioPermissionsFileSystem
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val f = Paths.get(root, "perm.txt")
    Files.writeString(f, "x")
    Seq("600", "640", "751", "777", "000").foreach { m =>
      fs.setPermission(new HPath(f.toUri), new FsPermission(m))
      assert(mode(f) == Integer.parseInt(m, 8), m)
    }
    val d = Paths.get(root, "sticky")
    Files.createDirectories(d)
    fs.setPermission(new HPath(d.toUri), new FsPermission("1777"))
    assert(mode(d) == Integer.parseInt("1777", 8), mode(d).toOctalString)
  }
}
