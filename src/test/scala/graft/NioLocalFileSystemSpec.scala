package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
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

  test("a streaming checkpoint is written through it, with Hadoop's default modes") {
    val base = Files.createTempDirectory("graft-ckmode")
    val conf = spark.sessionState.newHadoopConf()
    // FileContext, which checkpoints write through, resolves file: to the
    // checksummed NIO filesystem, so no mode change forks `chmod`
    val fs = FileContext.getFileContext(base.toUri, conf).getDefaultFileSystem
    fs shouldBe a[NioLocalFileSystem.Fs]
    fs.asInstanceOf[NioLocalFileSystem.Fs].getRawFs shouldBe a[NioLocalFileSystem.RawFs]

    // a stateful query's checkpoint: offsets, commits, metadata, sources
    // and state-store files
    val checkpoint = base.resolve("checkpoint")
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Int]
    val q = input.toDF().groupBy($"value" % 3).count().writeStream
      .format("noop").outputMode("complete")
      .option("checkpointLocation", checkpoint.toString).start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4, 5)
      q.processAllAvailable()
    } finally q.stop()
    val walk = Files.walk(checkpoint)
    val (dirs, files) = try walk.iterator.asScala.toList.partition(Files.isDirectory(_))
      finally walk.close()
    files.map(_.getFileName.toString) should contain ("metadata")
    files.exists(_.toString.contains("/state/")) shouldBe true
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
