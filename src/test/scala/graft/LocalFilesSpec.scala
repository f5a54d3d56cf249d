package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The engine's `file:` scheme ([[LocalFiles]]): a session from
  * [[EngineSession.builder]] resolves to it for `FileSystem` and
  * `FileContext`, it sets modes exactly, and what Spark writes through it
  * has the layout and the modes of Hadoop's own local file system: 644
  * files, 755 directories and a `.crc` sibling beside each data file.
  */
class LocalFilesSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("a session from EngineSession.builder resolves file: to the engine's classes") {
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[LocalFiles], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFiles].getRaw.isInstanceOf[RawLocalFiles])
    val afs = FileContext.getFileContext(new java.net.URI("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFilesFs], afs.getClass.getName)
    assert(afs.getUriDefaultPort == -1)
    assert(afs.isValidName("/tmp/a:b"))
  }

  test("setPermission sets 0644, 0755 and 01777 exactly") {
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val dir = tmp("lf-perm")
    val file = Files.createFile(dir.resolve("f"))
    val sub = Files.createDirectory(dir.resolve("d"))
    Seq(file -> "644", sub -> "755", sub -> "1777", file -> "755", file -> "644").foreach {
      case (p, octal) =>
        val m = oct(octal)
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
        assert(mode(p) == m, f"$p: mode ${mode(p)}%o, want $m%o")
    }
  }

  test("a partitioned write keeps 644 files, 755 directories and the .crc siblings") {
    import spark.implicits._
    val out = tmp("lf-write").resolve("t")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k").repartition(1)
      .write.partitionBy("k").parquet(out.toString)
    val all = Files.walk(out).iterator().asScala.toVector
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.map(out.relativize(_).toString).toSet == Set("", "k=a", "k=b"), dirs)
    dirs.foreach(d => assert(mode(d) == oct("755"), f"$d: ${mode(d)}%o"))
    files.foreach(f => assert(mode(f) == oct("644"), f"$f: ${mode(f)}%o"))
    val names = files.map(out.relativize(_).toString).toSet
    val data = names.filter(n => n.endsWith(".parquet") || n == "_SUCCESS")
    assert(data.count(_.endsWith(".parquet")) == 2 && data("_SUCCESS"), names)
    def crc(n: String) = n.split('/') match {
      case Array(d, f) => s"$d/.$f.crc"
      case Array(f) => s".$f.crc"
    }
    assert(names == data ++ data.map(crc), names)
    assert(spark.read.parquet(out.toString).count() == 3)
  }

  test("a checkpoint path with ':' in a name runs and restarts") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tmp("lf-ckpt")
    val ckpt = dir.resolve("run:1").toString
    val out = dir.resolve("out").toString
    val mem = MemoryStream[Long]
    def run(xs: Long*): Unit = {
      val q = mem.toDF().writeStream.format("parquet").option("path", out)
        .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()
      mem.addData(xs)
      q.processAllAvailable()
      q.stop()
    }
    run(1L, 2L)
    run(3L)
    assert(spark.read.parquet(out).as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(Files.list(java.nio.file.Paths.get(ckpt, "commits")).iterator().asScala
      .count(_.getFileName.toString.forall(_.isDigit)) == 2)
  }
}
