package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The measurement main's dispatch: the `plan` output shape, its file
  * form, and the usage refusal that comes before any session.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private val Subcommands = Seq("plan", "audit", "gates", "docs", "admission", "models")

  test("plan prints the formatted plan, then the AQE-final executed plan") {
    val Seq(text) = Probe.plan(spark, sf, Seq("q_top_orders"), None)
    val (formatted, executed) = text.splitAt(text.indexOf("=== executed plan (AQE-final) ==="))
    assert(formatted.startsWith("=== formatted plan ===\n== Physical Plan =="), text)
    assert(executed.contains("AdaptiveSparkPlan isFinalPlan=true"), text)
    assert(!executed.contains("isFinalPlan=false"), text)
  }

  test("plan with an output directory writes <q>_<tag>.txt with the same text") {
    val dir = Files.createTempDirectory("graft_probe_plan")
    try {
      val Seq(text) = Probe.plan(spark, sf, Seq("q_top_orders"), Some((dir.toString, "t")))
      assert(Files.readString(dir.resolve("q_top_orders_t.txt")) == text)
      assert(Files.list(dir).count() == 1)
    } finally graft.operators.Artifacts.deleteRecursively(dir)
  }

  test("an unknown, missing or malformed subcommand is refused with the usage, before any session") {
    val bad = Seq(Seq("bogus"), Seq.empty, Seq("plan"), Seq("plan", "q_nope"),
      Seq("plan", "q_top_orders", "dir"), Seq("admission", "1"), Seq("admission", "x"),
      Seq("gates", "extra"))
    // with no default session, a session built by main would become one
    val saved = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try bad.foreach { args =>
      val e = intercept[IllegalArgumentException](Probe.main(args.toArray))
      Subcommands.foreach(c => assert(e.getMessage.contains(s"  $c "), e.getMessage))
      assert(SparkSession.getDefaultSession.isEmpty && SparkSession.getActiveSession.isEmpty,
        s"${args.mkString(" ")}: a session was built")
    } finally {
      saved._1.foreach(SparkSession.setDefaultSession)
      saved._2.foreach(SparkSession.setActiveSession)
    }
    Seq(Seq("audit"), Seq("admission"), Seq("admission", "2"),
      Seq("plan", "q_top_orders,q1_pricing_summary", "dir", "tag"))
      .foreach(args => Probe.command(args))
  }
}
