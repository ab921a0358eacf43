package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[NioLocalFileSystem]] sets the modes Hadoop's forked `chmod` set. */
class NioLocalFileSystemSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session writes local files through it, with Hadoop's default modes") {
    val out = Files.createTempDirectory("graft-fsmode").resolve("out")
    new Path(out.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration) shouldBe
      a[NioLocalFileSystem]
    spark.range(10).repartition(2).write.parquet(out.toString)
    val walk = Files.walk(out)
    val (dirs, files) = try walk.iterator.asScala.toList.partition(Files.isDirectory(_))
      finally walk.close()
    files.map(_.getFileName.toString) should contain ("_SUCCESS")
    files.count(_.getFileName.toString.endsWith(".crc")) should be > 0
    dirs.map(mode).distinct shouldBe List("rwxr-xr-x")
    files.map(mode).distinct shouldBe List("rw-r--r--")
  }

  test("an explicit setPermission reads back exactly") {
    val dir = Files.createTempDirectory("graft-fsperm")
    val file = Files.createFile(dir.resolve("f"))
    val fs = new Path(dir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setPermission(new Path(file.toUri), new FsPermission(Integer.parseInt("600", 8).toShort))
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
    mode(file) shouldBe "rw-------"
    mode(dir) shouldBe "rwxr-x---"
    fs.getFileStatus(new Path(file.toUri)).getPermission.toShort shouldBe
      Integer.parseInt("600", 8).toShort
  }
}
