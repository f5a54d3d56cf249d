package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Pipeline

/** The engine's `file:` scheme ([[LocalFiles]]): a session from
  * [[EngineSession.builder]] resolves to it for `FileSystem` and
  * `FileContext`, it sets modes exactly, and what Spark writes through it
  * has the layout and the modes of Hadoop's own local file system: 644
  * files, 755 directories and a `.crc` sibling beside each data file. Its
  * link statuses are Hadoop's too, and a streaming drain through it
  * starts no child process.
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

  /** The fields a caller reads from a link status, or the exception the
    * lookup throws.
    */
  private def linkStatus(lookup: => FileStatus) =
    Try(lookup).toEither.left.map(_.getClass).map(st =>
      (st.getLen, st.isDirectory, st.isSymlink, Option.when(st.isSymlink)(st.getSymlink),
        st.getModificationTime))

  test("link statuses equal stock Hadoop's through FileSystem and FileContext") {
    val root = new URI("file:///")
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFs = new LocalFileSystem
    stockFs.initialize(root, stockConf)
    val (fs, fc) = (FileSystem.get(root, conf), FileContext.getFileContext(root, conf))
    val stockFc = FileContext.getFileContext(root, stockConf)
    assert(stockFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    val dir = tmp("lf-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val cases = Map(
      "file" -> file,
      "directory" -> Files.createDirectory(dir.resolve("d")),
      "missing" -> dir.resolve("missing"),
      "link" -> Files.createSymbolicLink(dir.resolve("l"), file),
      "dangling" -> Files.createSymbolicLink(dir.resolve("x"), dir.resolve("gone")))
    for ((name, p) <- cases; path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(linkStatus(fs.getFileLinkStatus(path)) == linkStatus(stockFs.getFileLinkStatus(path)),
        s"FileSystem, $name, $path")
      assert(linkStatus(fc.getFileLinkStatus(path)) == linkStatus(stockFc.getFileLinkStatus(path)),
        s"FileContext, $name, $path")
    }
    def plain(name: String) = linkStatus(fs.getFileLinkStatus(new Path(cases(name).toString)))
    assert(plain("file").map(st => (st._1, st._2, st._3)) == Right((3L, false, false)))
    assert(plain("directory").map(st => (st._2, st._3)) == Right((true, false)))
    assert(plain("missing") == Left(classOf[FileNotFoundException]))
    assert(plain("link").map(st => (st._3, st._4)) == Right((true, Some(new Path(file.toUri)))))
    assert(plain("dangling").map(_._3) == Right(true))
  }

  test("a firehose drain of 2 micro-batches starts no child process") {
    val staged = tmp("lf-staged").toString
    Tables.events(spark, sf).select("event_id", "event_type", "props")
      .repartition(2, col("event_id")).write.mode("overwrite").parquet(staged)
    val src = spark.read.parquet(staged)
    val events = spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(staged)
    val out = tmp("lf-fh-out").toString
    // A security manager that allows everything and records each process
    // launch (ProcessBuilder.start calls checkExec) anywhere in the JVM,
    // except one: Spark's ArtifactManager runs `rm -rf` on a Cleaner thread
    // whenever the GC collects an earlier query's cloned session, at no
    // fixed point of the drain.
    val launched = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val counting = new SecurityManager {
      override def checkExec(cmd: String): Unit =
        if (!Thread.currentThread.getStackTrace.exists(_.getClassName.startsWith(
            "org.apache.spark.sql.artifact.ArtifactManager"))) launched.add(cmd)
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
    }
    // Spark's executor metrics run `getconf PAGESIZE` once per JVM, at the
    // first heartbeat; start that now so only the drain's launches count.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val previous = System.getSecurityManager
    System.setSecurityManager(counting)
    val q = try Pipeline.runToCompletion(Pipeline.firehose(events, out, failEvery = 7L),
        tmp("lf-fh-ckpt").toString)
      finally System.setSecurityManager(previous)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(spark.read.parquet(out).count() == src.count())
    assert(launched.size == 0,
      s"child processes: ${launched.asScala.groupBy(identity).view.mapValues(_.size).toMap}")
  }
}
