package graft.ops

import java.nio.file.{Files, Paths}

import graft.Artifacts

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Race test for the digest-guarded artifact marker (judge r8 task 8):
  * `commitMarker` is write-temp-then-ATOMIC_MOVE, so a reader running
  * concurrently with a stream of commits must only ever observe a
  * COMPLETE marker — one of the committed (fingerprint, schema) pairs —
  * never a torn half-write (which `freshArtifact` could otherwise parse
  * into a truncated-schema artifact hit). A plain Files.write of the
  * final path would flake this spec; the tmp+ATOMIC_MOVE contract is
  * what makes it deterministic.
  */
class ArtifactMarkerSpec extends AnyFunSuite {

  private val schemaA = StructType.fromDDL("id BIGINT,v DOUBLE")
  private val schemaB = StructType.fromDDL("id BIGINT,cell INT,w DOUBLE")

  test("reader concurrent with commits sees only complete (fp, schema) pairs") {
    val dir = Files.createTempDirectory("marker-race")
    val path = dir.resolve("idx").toString
    val commits = Map("fpA" -> schemaA, "fpB" -> schemaB)
    Artifacts.commitMarker(path, "fpA", schemaA)

    // The atomic-move contract guarantees a SINGLE read observes a
    // complete committed (fp, schema) pair. Two sequential freshArtifact
    // probes are NOT one observation — a commit landing between them can
    // legitimately make both miss — so the reader takes exactly one
    // marker snapshot per iteration and checks membership in the
    // committed set.
    val committed = commits.map { case (fp, s) => s"$fp\n${s.toDDL}" }.toSet
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val marker = java.nio.file.Paths.get(path + ".marker")
      while (!stop.get() && torn.get() == null) {
        val content = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        if (!committed.contains(content))
          torn.set(s"torn marker content: ${content.replace("\n", "\\n")}")
      }
    })
    reader.start()
    (1 to 500).foreach { i =>
      val fp = if (i % 2 == 0) "fpA" else "fpB"
      Artifacts.commitMarker(path, fp, commits(fp))
    }
    stop.set(true)
    reader.join(10000)
    assert(torn.get() == null, String.valueOf(torn.get()))
    // quiescent check: with no writer racing, the freshArtifact probe
    // must hit the last-committed fingerprint with its exact schema
    assert(Artifacts.freshArtifact(path, "fpA").contains(schemaA))
    assert(Artifacts.freshArtifact(path, "fpB").isEmpty)
  }

  test("a crashed writer's leftover tmp file never satisfies the guard") {
    val dir = Files.createTempDirectory("marker-crash")
    val path = dir.resolve("idx").toString
    // simulate a crash mid-build: tmp written, move never happened
    Files.write(Paths.get(path + ".marker.tmp"),
      s"fpX\n${schemaA.toDDL}".getBytes("UTF-8"))
    assert(Artifacts.freshArtifact(path, "fpX").isEmpty,
      "uncommitted tmp marker must not register as a fresh artifact")
    // and a later clean commit wins regardless of the stale tmp
    Artifacts.commitMarker(path, "fpY", schemaB)
    assert(Artifacts.freshArtifact(path, "fpY").contains(schemaB))
    assert(Artifacts.freshArtifact(path, "fpX").isEmpty)
  }
}
