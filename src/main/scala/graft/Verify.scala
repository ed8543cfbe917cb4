package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only; the driver always uses the 2-arg full-dump form)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.escape(k)}: ${JsonText.escape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only → guarantee-twin pairing (r17 verdict ask #5): each
    // no_oracle row in the driver's correctness artifact is attested by
    // its twin's hash-green row; this map makes the pairing machine-
    // readable next to the dump
    val twins = SparkEntry.guaranteeTwins
      .map { case (k, v) => s"${JsonText.escape(k)}: ${JsonText.escape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/guarantee_twins.json"), twins)
    spark.stop()
  }
}
