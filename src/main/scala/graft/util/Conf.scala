package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session configuration: the one save/set/restore of a session-conf
  * key in graft.
  */
object Conf {

  /** Run `f` with a scoped session-conf value, restoring (or unsetting)
    * the previous value after — queries share one SparkSession, so a bare
    * `conf.set` would leak into every later query.
    */
  def withConf[A](s: SparkSession, key: String, value: String)(f: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
