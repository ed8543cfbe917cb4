package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs made from the workload seed. The batch tables keep their
  * content and change only their row order, so the expected outputs hold
  * for every seed; the clickstream is drawn afresh from the seed.
  */
object Inputs {

  /** Rewrites each table of `from` into `to` as one parquet file whose row
    * order is a seed-keyed hash permutation of the original.
    */
  def reorderTables(spark: SparkSession, from: String, to: String, seed: Long,
      tables: Seq[String]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables.map { t =>
      Future {
        val df = spark.read.parquet(s"$from/$t.parquet")
        df.withColumn("__k", xxhash64((lit(seed) +: df.columns.toSeq.map(col)): _*))
          .repartition(1).sortWithinPartitions("__k").drop("__k")
          .write.mode("overwrite").parquet(s"$to/$t.parquet")
      }
    }
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  type Click = (String, Timestamp, String)

  /** Clickstream rows `(uuid, event_time, tag)`: users drawn with a
    * power-law skew over [[Users]] ids, [[ClickShare]] clicks and the rest
    * views. Row `i` is due at `startMs + i * spacingMs`; its event time is
    * that instant moved back by up to [[MaxJitterMs]], so rows arrive out
    * of order but never behind the 5 s watermark.
    */
  def clicks(seed: Long, n: Int, startMs: Long, spacingMs: Double): Array[Click] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val user = (Users * math.pow(rnd.nextDouble(), 3)).toInt
      val tag = if (rnd.nextDouble() < ClickShare) "click" else "view"
      val due = startMs + (i * spacingMs).toLong
      (s"u$user", new Timestamp(due - rnd.nextLong(MaxJitterMs)), tag)
    }
  }

  val Users = 20000
  val ClickShare = 0.2
  val MaxJitterMs = 3000L

  type Feature = (String, String, Long, Long)

  /** The 20-minute features `(uuid, window_key, clicks, views)` over
    * exactly `rows`, computed without Spark as the reference the streamed
    * sinks must equal. `window_key` is the window end, `yyyyMMddHHmm` UTC.
    */
  def expectedFeatures(rows: Seq[Click]): Set[Feature] = {
    val windowMs = 20L * 60 * 1000
    val key = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
      .withZone(java.time.ZoneOffset.UTC)
    rows.groupBy { case (uuid, ts, _) => (uuid, Math.floorDiv(ts.getTime, windowMs)) }
      .map { case ((uuid, w), rs) =>
        val clicks = rs.count(_._3 == "click").toLong
        (uuid, key.format(java.time.Instant.ofEpochMilli((w + 1) * windowMs)), clicks,
          rs.size - clicks)
      }.toSet
  }
}

/** Order-independent output fingerprint: the row count plus the two
  * 32-bit halves of each row's 64-bit hash, each summed over the rows.
  * Sums commute, so the fingerprint does not depend on row order or
  * partitioning; equal rows add up instead of cancelling.
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(to_json(struct(names.map(col): _*)))
    val r = df.toDF(names: _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def s(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    format(r.getLong(0), s(1), s(2))
  }

  private def format(n: Long, lo: Long, hi: Long): String =
    s"$n:${java.lang.Long.toHexString(hi)}:${java.lang.Long.toHexString(lo)}"
}
