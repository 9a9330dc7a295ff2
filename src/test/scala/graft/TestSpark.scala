package graft

import org.apache.spark.sql.SparkSession

/** The one session every spec runs on. sbt runs all specs in one forked
  * JVM and `getOrCreate` hands every later caller the first session, so
  * the session is shared whatever a spec asks for: a spec that needs a
  * runtime conf of its own scopes it with [[withConf]] instead of
  * leaving it set for whichever spec runs next. */
object TestSpark {
  lazy val session: SparkSession = EngineDefaults.local(4, 4).getOrCreate()

  /** Run `body` with `kvs` set on the shared session, then give each key
    * back its prior explicit value, or unset it if it had none — also
    * when `body` throws. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = session.conf
    val prior = kvs.map { case (k, _) => k -> conf.getAll.get(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
