package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, StringType}

/** The per-corpus artifact store ([[Artifacts]]) on a throwaway source
  * directory holding one tiny parquet table: what a build costs, when it
  * re-runs, and what a read-back may rely on.
  */
class ArtifactsSpec extends SparkSpec {

  /** A fresh source directory with `rows` rows in `src.parquet`. */
  private def source(rows: Int): String = {
    val dir = Files.createTempDirectory("artifacts-spec").toString
    write(dir, rows)
    dir
  }

  private def write(dir: String, rows: Int): Unit =
    spark.range(rows).write.mode("overwrite").parquet(s"$dir/src.parquet")

  /** `persisted` over `src.parquet` with a build that counts its runs. */
  private class Counted(dir: String, tag: String) {
    var builds = 0
    def apply(): DataFrame = Artifacts.persisted(spark, dir, tag, "src.parquet") {
      builds += 1
      spark.read.parquet(s"$dir/src.parquet").selectExpr("id", "id * 2 AS twice")
    }
  }

  test("a second persisted call skips its build and reads back through the memo") {
    val art = new Counted(source(5), "spec_memo")
    val first = art()
    val second = art()
    assert(art.builds == 1)
    assert(second eq first, "the read-back frame is memoized per session")
    assert(second.count() == 5)
  }

  test("a new length or mtime of the source forces exactly one rebuild") {
    val dir = source(5)
    val art = new Counted(dir, "spec_refresh")
    art()
    write(dir, 7) // new files, new lengths
    val before = art()
    assert(art().count() == 7)
    assert(art.builds == 2)
    val parts = new java.io.File(dir, "src.parquet").listFiles()
    parts.foreach(p => Files.setLastModifiedTime(p.toPath,
      FileTime.fromMillis(p.lastModified + 60000))) // same bytes, new mtime
    val after = art()
    art()
    assert(art.builds == 3)
    assert(!(after eq before))
    assert(after.count() == 7)
  }

  test("a zero-row build reads back with its committed schema, not an inferred one") {
    val dir = source(3)
    val tag = "spec_empty"
    def persisted(): DataFrame = Artifacts.persisted(spark, dir, tag, "src.parquet")(
      spark.read.parquet(s"$dir/src.parquet").filter("id < 0")
        .selectExpr("id", "CAST(id AS STRING) AS k"),
      (df, p) => df.write.mode("overwrite").partitionBy("k").parquet(p))
    persisted()
    // a partitioned write of no rows leaves no file to infer a schema from
    intercept[AnalysisException](spark.read.parquet(Artifacts.path(dir, tag)).schema)
    // a new session misses the memo and reads back through the marker
    val fields = Seq(persisted(), Artifacts.persisted(spark.newSession(), dir, tag,
      "src.parquet")(throw new AssertionError("fresh artifact rebuilt")))
    fields.foreach { df =>
      assert(df.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "k" -> StringType))
      assert(df.count() == 0)
    }
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    val dir = source(4)
    val tag = "spec_crash"
    val marker = Paths.get(Artifacts.path(dir, tag) + ".marker")
    val art = new Counted(dir, tag)
    art()
    assert(Files.exists(marker))
    write(dir, 6)
    intercept[IllegalStateException](Artifacts.persisted(spark, dir, tag, "src.parquet")(
      throw new IllegalStateException("build failed")))
    assert(!Files.exists(marker), "a failed build must leave the artifact uncommitted")
    assert(art().count() == 6)
    assert(art.builds == 2)
    assert(Files.exists(marker))
  }
}
