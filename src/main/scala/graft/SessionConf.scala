package graft

import org.apache.spark.sql.SparkSession

/** Scoped overrides of a shared session's runtime conf. */
object SessionConf {

  /** Run `body` with `confs` set on the session, then restore each key to
    * its previous value (or unset it if it had none), so the shared
    * session is untouched for every other query. Single-session
    * assumption, same as the memo locks (see queries.Memo): a concurrent
    * query on the same session sees the overrides while `body` runs.
    */
  def scoped[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    // the explicitly set keys, not `getOption`: a key the session never
    // set reads its default through getOption, and restoring that
    // default would leave the key set
    val set = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}
