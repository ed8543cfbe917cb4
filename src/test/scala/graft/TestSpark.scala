package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` on a fresh session with [[GraftExtensions]] installed, on
    * the shared SparkContext: the active/default session is cleared so
    * getOrCreate builds a new one WITH the extensions (and it is not
    * stopped — that would stop the JVM-wide context), then the shared
    * session is restored.
    */
  def withExtensions[T](f: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try f(SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions).getOrCreate())
    finally {
      SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared)
    }
  }
}
