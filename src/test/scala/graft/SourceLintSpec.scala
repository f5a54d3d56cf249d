package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: fixture scans are widened in ONE place. `Tables.spread`
  * owns the decision (a one-row-group fixture scans as one task); a
  * core-count repartition written into an operator file, or the deleted
  * `graft.ops.Par` helper coming back, would be a second mechanism for
  * the same job. Sessions are built in ONE place too: static confs such
  * as the generated-class cache size only take effect at session build.
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainDir = new java.io.File("src/main/scala/graft")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private def matches(files: Seq[java.io.File], bad: String => Boolean): Seq[String] =
    files.flatMap { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
        src.getLines().zipWithIndex.collect {
          case (line, i) if bad(line) => s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList
      }
    }

  test("operators widen fixture scans only through Tables.spread") {
    val ops = sources(new java.io.File(mainDir, "ops"))
    assert(ops.nonEmpty, s"no sources under ${mainDir.getAbsolutePath}/ops")
    val cores = matches(ops, _.contains("defaultParallelism"))
    assert(cores.isEmpty, "core-count repartition outside Tables.spread:\n" + cores.mkString("\n"))
    val par = "\\bPar\\s*\\.|ops\\.Par\\b".r
    val parRefs = matches(sources(mainDir), par.findFirstIn(_).nonEmpty)
    assert(parRefs.isEmpty, "graft.ops.Par referenced:\n" + parRefs.mkString("\n"))
    assert(!new java.io.File(mainDir, "ops/Par.scala").exists())
  }

  test("only EngineSession builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*builder\\b".r
    val engine = new java.io.File(mainDir, "EngineSession.scala").getPath + ":"
    val (own, others) = matches(sources(new java.io.File("src/main/scala")),
      builder.findFirstIn(_).nonEmpty).partition(_.startsWith(engine))
    assert(own.nonEmpty, s"no SparkSession.builder found in $engine")
    assert(others.isEmpty, "SparkSession.builder outside EngineSession:\n" + others.mkString("\n"))
  }
}
