package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session configuration: the one save/set/restore of session-conf
  * keys in graft.
  */
object Conf {

  /** Run `f` with scoped session-conf values, restoring (or unsetting)
    * each key's previous value after — queries share one SparkSession, so a
    * bare `conf.set` would leak into every later query. Keys are set in
    * order and restored in reverse, so a key named twice ends as it began.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally prev.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
