package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's JVM helpers; exits non-zero on a failure.
  * Run by perfbench/tests/test_perfbench.py.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build("local[2]", 2)
    try {
      fingerprint(spark)
      generator(spark)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def fingerprint(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"t${i % 7}", i * 0.5))
    val shuffled = new scala.util.Random(3).shuffle(rows)
    val base = Fingerprint.of(rows.toDF("a", "b", "c"))
    check("fingerprint is invariant under row order and partitioning",
      base == Fingerprint.of(shuffled.toDF("a", "b", "c").repartition(5)))
    check("fingerprint sees a changed value",
      base != Fingerprint.of(rows.updated(3, (4L, "t4", 2.5)).toDF("a", "b", "c")))
    check("fingerprint counts a duplicated row",
      base != Fingerprint.of((rows :+ rows.head).toDF("a", "b", "c")))
  }

  private def generator(spark: SparkSession): Unit = {
    val a = Inputs.clicks(5, 2000, 0L, 10.0)
    check("clickstream: one seed gives identical rows",
      a.sameElements(Inputs.clicks(5, 2000, 0L, 10.0)))
    check("clickstream: another seed gives different rows",
      !a.sameElements(Inputs.clicks(6, 2000, 0L, 10.0)))
    check("clickstream: event times trail their due time by less than the jitter bound",
      a.zipWithIndex.forall { case ((_, ts, _), i) =>
        val lag = i * 10L - ts.getTime
        lag >= 0 && lag < Inputs.MaxJitterMs
      })

    import spark.implicits._
    val dir = Files.createTempDirectory("perfbench-selftest").toString
    (1 to 500).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .write.parquet(s"$dir/src/t.parquet")
    def reordered(seed: Long, to: String): Seq[Long] = {
      Inputs.reorderTables(spark, s"$dir/src", s"$dir/$to", seed, Seq("t"))
      spark.read.parquet(s"$dir/$to/t.parquet").as[(Long, String)].collect().map(_._1).toSeq
    }
    val one = reordered(1, "a")
    check("table rewrite: one seed gives one row order", one == reordered(1, "b"))
    val other = reordered(2, "c")
    check("table rewrite: another seed gives another order of the same rows",
      other != one && other.sorted == one.sorted && one.sorted == (1L to 500L))
  }
}
