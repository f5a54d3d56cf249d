package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: fixture scans are widened in ONE place. `Tables.spread`
  * owns the decision (a one-row-group fixture scans as one task); a
  * core-count repartition written into an operator file, or the deleted
  * `graft.ops.Par` helper coming back, would be a second mechanism for
  * the same job. Sessions are built in ONE place too: static confs such
  * as the generated-class cache size only take effect at session build,
  * and so does the file system (Hadoop caches one per scheme per JVM).
  * Every eager checkpoint says why it is there: a cut is a blocking job
  * and a lineage a lost executor cannot replay, so one that no longer
  * has a reason should go, and hiding a join from `PlanLintSpec` is not
  * a reason. Derived artifacts are stored in ONE place: `Artifacts` owns
  * their tmpdir location, source fingerprint and commit marker, so an
  * operator that spells one of them out again starts a second store.
  * Nothing starts a child process: each costs about 10 ms, and the hop's
  * micro-batches once started dozens through Hadoop's shell fallbacks
  * ([[LocalFiles]]). A sub-plan that two keys share is spelled in ONE
  * place, with one oracle twin beside it: a copy is a second place every
  * fix must reach, which is how the engine and its DuckDB twin drift. So
  * no run of [[CopyRun]] code lines appears twice under `src/main/scala`
  * (comments and blank lines dropped, lines holding a string literal
  * kept whole, so oracle SQL counts).
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

  test("only EngineSession sets Hadoop confs or file-system implementations") {
    val hadoop = "spark\\.hadoop\\.|\\bfs\\.[\\w.]*\\.impl\\b".r
    val engine = new java.io.File(mainDir, "EngineSession.scala").getPath + ":"
    val (own, others) = matches(sources(new java.io.File("src/main/scala")),
      hadoop.findFirstIn(_).nonEmpty).partition(_.startsWith(engine))
    assert(own.nonEmpty, s"no file-system implementation set in $engine")
    assert(others.isEmpty, "Hadoop conf outside EngineSession:\n" + others.mkString("\n"))
  }

  test("every localCheckpoint carries a // reason on its line or the two above") {
    // a reason that names the plan lint is no reason: the lint judges a
    // nested loop by its bounded side, so hiding a join from it buys nothing
    val unexplained = sources(new java.io.File("src/main/scala")).flatMap { f =>
      val lines = scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)
      lines.indices.collect {
        case i if lines(i).contains(".localCheckpoint(") && {
            val reasons = lines.slice(math.max(0, i - 2), i + 1).filter(_.contains("//"))
              .map(l => l.substring(l.indexOf("//")))
            reasons.isEmpty || reasons.exists(_.contains("PlanLintSpec"))
          } =>
          s"${f.getPath}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(unexplained.isEmpty, "localCheckpoint without a reason:\n" + unexplained.mkString("\n"))
  }

  test("only Artifacts names the tmpdir, digests a fingerprint or touches a marker") {
    val store = "java\\.io\\.tmpdir|MessageDigest|\\.marker\\b|\\.lastModified\\b".r
    val artifacts = new java.io.File(mainDir, "Artifacts.scala").getPath + ":"
    val (own, others) = matches(sources(mainDir), store.findFirstIn(_).nonEmpty)
      .partition(_.startsWith(artifacts))
    assert(own.nonEmpty, s"no artifact store found in $artifacts")
    assert(others.isEmpty, "artifact store spelled outside Artifacts:\n" + others.mkString("\n"))
  }

  /** The shortest run of code lines the copy rule reports. */
  private val CopyRun = 8

  /** The lines of `f` the copy rule compares, with their line numbers:
    * trimmed, with blank lines, `//` comments and `/* … */` blocks
    * (scaladoc included) dropped; a line inside or holding a string
    * literal is kept whole.
    */
  private def codeLines(f: java.io.File): Vector[(Int, String)] = {
    val out = Vector.newBuilder[(Int, String)]
    var inBlock = false
    var inString = false
    val lines = scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)
    lines.zipWithIndex.foreach { case (raw, i) =>
      var line = raw.trim
      val opensOrCloses = "\"\"\"".r.findAllIn(line).size % 2 == 1
      if (inString) {
        out += (i + 1 -> line)
        if (opensOrCloses) inString = false
      } else {
        if (inBlock) {
          val end = line.indexOf("*/")
          line = if (end < 0) "" else line.substring(end + 2).trim
          inBlock = end < 0
        }
        if (line.contains('"')) {
          out += (i + 1 -> line)
          if (opensOrCloses) inString = true
        } else {
          if (line.startsWith("/*")) {
            val end = line.indexOf("*/")
            line = if (end < 0) "" else line.substring(end + 2).trim
            inBlock = end < 0
          }
          if (line.contains("//")) line = line.substring(0, line.indexOf("//")).trim
          if (line.nonEmpty) out += (i + 1 -> line)
        }
      }
    }
    out.result()
  }

  test(s"no run of $CopyRun code lines appears twice under src/main/scala") {
    val files = sources(new java.io.File("src/main/scala")).map(f => f.getPath -> codeLines(f))
    val at = files.flatMap { case (path, lines) =>
      lines.sliding(CopyRun).zipWithIndex.collect {
        case (w, j) if w.size == CopyRun => w.map(_._2) -> (path, j, w.head._1)
      }
    }.groupMap(_._1)(_._2).values.filter(_.size > 1)
    // report each run once, at its first window
    val starts = at.flatten.map { case (path, j, _) => path -> j }.toSet
    val runs = at.filter(_.exists { case (path, j, _) => !starts(path -> (j - 1)) })
      .map(_.map { case (path, _, line) => s"$path:$line" }.mkString(" = "))
    assert(runs.isEmpty, s"${runs.size} copied run(s) of $CopyRun+ lines:\n" + runs.mkString("\n"))
  }

  test("no source starts a child process") {
    val spawn = ("\\bsys\\.process\\b|\\bProcessBuilder\\b|Runtime\\.getRuntime(\\(\\))?\\.exec\\b|" +
      "\\bShell\\.|FileUtil\\.readLink\\b").r
    val found = matches(sources(new java.io.File("src/main/scala")), spawn.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, "child process started in src/main/scala:\n" + found.mkString("\n"))
  }
}
