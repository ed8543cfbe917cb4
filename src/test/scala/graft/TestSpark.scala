package graft

import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingFeatures

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

  /** The features table [[StreamingFeatures.featurePipeline]] writes:
    * created empty in a fresh in-memory Derby database `db`, handed to `f`
    * as the database URL, dropped after.
    */
  def withFeatureTable[T](db: String)(f: String => T): T = {
    val url = s"jdbc:derby:memory:$db;create=true"
    StreamingFeatures.createFeatureTable(url, FeatureTable)
    try f(url)
    finally try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: SQLException => () } // a dropped in-memory DB reports 08006
  }

  val FeatureTable = "features_20m"

  /** The rows of [[FeatureTable]] at `url`: (uuid, window_key, clicks, views). */
  def featureTableRows(url: String): Set[(String, String, Long, Long)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery(s"SELECT uuid, window_key, clicks, views FROM $FeatureTable")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    } finally c.close()
  }
}
