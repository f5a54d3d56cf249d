package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftnative.SessionUid
import org.apache.spark.sql.types.StructType

/** The per-corpus artifact store: every frame the engine derives from a
  * fixture corpus and keeps on disk, and every frame it memoizes per
  * session, goes through here.
  *
  *  - Location ([[path]]): `$java.io.tmpdir/graft_<tag>_<md5(dir)>`, a
  *    function of the source directory alone, so scale factors never
  *    collide and a later process finds what an earlier one built.
  *  - Freshness ([[fingerprint]]): the (name, length, mtime) listing of
  *    the source parquet, a stat and no read. A fixture regenerated in
  *    place changes it and forces a rebuild; an unchanged one is reused,
  *    so a query measures the work its name claims, not a rebuild of
  *    shared state.
  *  - Commit ([[rebuild]]): the marker beside the artifact is deleted
  *    before the path is truncated and committed only after the write,
  *    carrying the fingerprint and the written schema's DDL. A crashed
  *    build leaves no marker, never one pointing at a half-written path.
  *  - Read-back ([[persisted]]): with the marker's schema, never by
  *    inference; a partitioned build of zero rows writes no file to
  *    infer from.
  *  - Memo ([[memo]]): one per-session map of scan frames, shared with
  *    the fixture scans of [[Tables]]. `spark.read.parquet` pays ~65-90 ms
  *    of listing and footer work per call; a memoized frame pays it once
  *    per session and source fingerprint. Only paths written once per
  *    fingerprint may be memoized: a frame's file index lists the files
  *    of its first read.
  *
  * Concurrency contract: SINGLE WRITER per corpus. A rebuild rewrites
  * the shared path in place, so two processes rebuilding the same corpus
  * would race one's write against the other's read-back. That is fine
  * for this engine's sequential harness; a production deployment must
  * version generations (write to a unique path, flip a pointer
  * atomically) or take a lock before rebuilding. The marker alone is
  * safe under concurrent readers ([[commitMarker]]).
  */
object Artifacts {

  /** Deterministic location of the `tag` artifact derived from `dir`. */
  def path(dir: String, tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${md5(dir).take(12)}"

  /** Content fingerprint of the source parquet tables `tables` under
    * `dir` (each a file or a directory of part files): the digest of
    * their files' sorted (name, length, mtime) listing.
    */
  def fingerprint(dir: String, tables: String*): String =
    md5(tables.flatMap { t =>
      val f = new java.io.File(dir, t)
      Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    }.map(p => s"${p.getName}:${p.length}:${p.lastModified}").sorted.mkString("|"))

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def marker(path: String) = Paths.get(path + ".marker")

  /** Commits the marker of a finished build: write-temp-then-ATOMIC_MOVE,
    * so a reader concurrent with a commit sees the old marker or the new
    * one, never a torn file whose truncated schema DDL could pass the
    * fingerprint check.
    */
  def commitMarker(path: String, fp: String, schema: StructType): Unit = {
    val tmp = Paths.get(path + ".marker.tmp")
    Files.write(tmp, s"$fp\n${schema.toDDL}".getBytes("UTF-8"))
    Files.move(tmp, marker(path),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed schema of the artifact at `path` if its marker carries `fp`. */
  def freshArtifact(path: String, fp: String): Option[StructType] = {
    val m = marker(path).toFile
    if (!m.exists()) None
    else {
      val lines = Files.readAllLines(m.toPath)
      if (lines.size >= 2 && lines.get(0) == fp) Some(StructType.fromDDL(lines.get(1)))
      else None
    }
  }

  /** Marks `path` stale before it is truncated: deletes its marker and
    * drops every session's memoized frame of it.
    */
  def invalidate(path: String): Unit = {
    Files.deleteIfExists(marker(path))
    frames.values.foreach(m => m.keys.filter(_._1 == path).foreach(m.remove))
  }

  /** Invalidate, run `write` (which writes `path` and returns the written
    * schema), commit. For an op whose measured work IS the build.
    */
  def rebuild(path: String, fp: String)(write: => StructType): StructType = {
    invalidate(path)
    val schema = write
    commitMarker(path, fp, schema)
    schema
  }

  /** The committed schema of `path` if fresh, else [[rebuild]]'s. */
  def ensure(path: String, fp: String)(write: => StructType): StructType =
    freshArtifact(path, fp).getOrElse(rebuild(path, fp)(write))

  /** Build-or-read of the immutable `tag` artifact derived from `tables`
    * under `dir`: `build` runs only when the marker is stale, its frame
    * is written by `write` (a plain overwrite unless given), and the
    * result is read back through the memo with the committed schema.
    */
  def persisted(s: SparkSession, dir: String, tag: String, tables: String*)(
      build: => DataFrame,
      write: (DataFrame, String) => Unit = (df, p) => df.write.mode("overwrite").parquet(p)
  ): DataFrame = {
    val p = path(dir, tag)
    val fp = fingerprint(dir, tables: _*)
    val schema = ensure(p, fp) { val df = build; write(df, p); df.schema }
    memo(s, p, fp)(s.read.schema(schema).parquet(p))
  }

  /** Session UUID ([[SessionUid]]) → ((key, source fingerprint) → frame). */
  private val frames = TrieMap[String, TrieMap[(String, String), DataFrame]]()

  /** The frame memoized under (`key`, `fp`) in `s`, built by `df` on a
    * miss. The first touch of a session pins its engine-semantics confs
    * ([[EngineSession.tune]]) before any frame is read, since the events
    * fixture reads only under them.
    */
  def memo(s: SparkSession, key: String, fp: String)(df: => DataFrame): DataFrame =
    frames.getOrElseUpdate(SessionUid.of(s), { EngineSession.tune(s); TrieMap.empty })
      .getOrElseUpdate((key, fp), df)
}
