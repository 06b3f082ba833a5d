package graft

import org.apache.spark.sql.SparkSession

/** The one way to change a session's SQL conf for a bounded piece of work.
  * The session, with its SQLConf, is the unit of configuration: a setting
  * a gate needs is scoped to that gate and handed back exactly as found.
  */
object SessionConf {

  /** The local session the harness mains and the test suite run in:
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, plus
    * `extra` settings on top. Spark logs at WARN from here on. */
  def localSession(cpus: String, extra: (String, String)*): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config(Map("spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false") ++ extra)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `settings` applied to `s`, then restore every touched
    * key, also when `body` throws. The prior values come from
    * `conf.getAll`, which holds explicit settings only: a key the session
    * never set is unset again afterwards, instead of being pinned to the
    * default that `conf.get` would have reported. */
  def scoped[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prior = s.conf.getAll
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally settings.foreach { case (k, _) =>
      prior.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }
}
