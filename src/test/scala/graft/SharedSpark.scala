package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** The test JVM's one Spark session. Every suite runs in the same forked
  * JVM, where a second builder would only get this session back and apply
  * its runtime confs to it for good, so suites mix this in instead: `spark`
  * is `Sessions.local(4)` (a fixed width, whatever the machine's
  * `SPARK_GRAFT_CPUS`), and a suite that needs another width or threshold
  * changes it through [[withConf]], which puts the previous values back. */
trait SharedSpark { this: Suite =>
  lazy val spark: SparkSession = SharedSpark.session

  /** `body` with the runtime SQL confs `kvs` set on `spark`; afterwards each
    * key gets its previous value back, or is unset if it had none. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val before = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A new session over the shared context with [[GraftExtensions]]
    * injected. Extensions are a static conf, so they need a session of their
    * own; once it is built, the shared session is made the active and default
    * one again, so later suites do not inherit the extensions session. */
  def graftExtensionsSession(): SparkSession = {
    val shared = SharedSpark.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate()
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}

object SharedSpark {
  lazy val session: SparkSession = Sessions.local(4)
}
