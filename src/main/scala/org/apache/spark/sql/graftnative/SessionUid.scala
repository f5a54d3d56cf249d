package org.apache.spark.sql.graftnative
/** Session-identity bridge for the engine's per-session frame memo
  * (graft.Artifacts). The memo is keyed on this String, not on the
  * session: its cached DataFrames strongly reference their session, so
  * a weak key on the session object could never be evicted.
  * `sessionUUID` is `private[sql]`, which this package can legally read.
  */
object SessionUid {
  def of(s: org.apache.spark.sql.SparkSession): String =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
