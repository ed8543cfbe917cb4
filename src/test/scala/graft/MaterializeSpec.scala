package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]]: a scope frees exactly the checkpoints made inside it
  * on its own thread, so queries sharing one session on several threads
  * keep each other's blocks, and a frame read after its scope closed
  * fails by name instead of returning rows.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  private def persisted(ids: Seq[Int]): Boolean =
    ids.forall(spark.sparkContext.getPersistentRDDs.contains)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("closing one thread's scope frees exactly its own checkpoints") {
    val aReady = new CountDownLatch(1)
    val bClosed = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val expectA = (0L until 50L).map(i => Row(i, i * 3)).map(_.toString)
    val a = Future {
      Materialize.scoped {
        val df = Materialize(spark.range(50).select(col("id"), (col("id") * 3).as("x")))
        val ids = rddIds(df)
        assert(ids.nonEmpty && persisted(ids))
        assert(sortedRows(df) == expectA.sorted)
        aReady.countDown()
        assert(bClosed.await(2, TimeUnit.MINUTES), "thread B never closed its scope")
        // B's scope is closed: A's checkpoint and blocks are untouched
        assert(persisted(ids), "B's scope freed A's checkpoint")
        assert(sortedRows(df) == expectA.sorted)
        ids
      }
    }
    val b = Future {
      val ids = Materialize.scoped {
        val df = Materialize.now(spark.range(40).select((col("id") + 7).as("y")))
        assert(df.count() == 40)
        assert(aReady.await(2, TimeUnit.MINUTES), "thread A never materialized")
        rddIds(df)
      }
      try assert(ids.nonEmpty && ids.forall(!spark.sparkContext.getPersistentRDDs.contains(_)),
        s"B's scope left its own checkpoint persisted: $ids")
      finally bClosed.countDown()
    }
    Await.result(b, 3.minutes)
    val aIds = Await.result(a, 3.minutes)
    assert(aIds.forall(!spark.sparkContext.getPersistentRDDs.contains(_)),
      s"A's scope left its own checkpoint persisted: $aIds")
  }

  test("four threads running checkpoint-heavy queries in scopes match a serial run") {
    val names = Seq("q_winnow_matches", "q_semantic_dedup", "q_minhash_components",
      "q_bpe_token_counts", "q_ivf_tuning")
    def runAll(order: Seq[String]): Map[String, Seq[String]] =
      order.map(n => n -> Materialize.scoped(sortedRows(SparkEntry.queries(n)(spark, sf)))).toMap
    val serial = runAll(names)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // each thread starts at a different query, so scopes open and
      // close while other threads' checkpoints are live
      val parallel = (0 until 4).map { t =>
        Future(runAll(names.drop(t) ++ names.take(t)))
      }.map(Await.result(_, 10.minutes))
      parallel.zipWithIndex.foreach { case (got, t) =>
        names.foreach(n => assert(got(n) == serial(n), s"thread $t: $n differs from the serial run"))
      }
    } finally pool.shutdown()
  }

  test("a lazy frame read after its scope closed fails by name, never with rows") {
    val df = Materialize.scoped {
      val m = Materialize(spark.range(30).select((col("id") * 2).as("z")))
      assert(m.count() == 30)
      m
    }
    val err = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf(_)).mkString("\n")
    assert(chain.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), chain)
  }

  test("freeing checkpoints logs no per-RDD lineage warning") {
    // Spark's RDD.unpersist warns once per locally checkpointed RDD; the
    // appender sees every WARN of the RDD loggers while the three ways
    // out of Materialize (release, a closing scope, eager and lazy) run
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("materialize-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val name = "org.apache.spark.rdd"
    val rddLogs = new LoggerConfig(name, Level.WARN, true)
    rddLogs.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, rddLogs)
    ctx.updateLoggers()
    val ids = try Materialize.scoped {
      val eager = Materialize.now(spark.range(20).select((col("id") + 1).as("a")))
      val released = rddIds(eager)
      Materialize.release(eager)
      val lazyDf = Materialize(spark.range(20).select((col("id") * 5).as("b")))
      assert(lazyDf.count() == 20)
      val scopedNow = Materialize.now(spark.range(20).select((col("id") - 1).as("c")))
      released ++ rddIds(lazyDf) ++ rddIds(scopedNow)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(ids.size == 3 && ids.forall(!spark.sparkContext.getPersistentRDDs.contains(_)),
      s"checkpoints left persisted: $ids")
    val lineage = seen.asScala.filter(_.contains("locally checkpointed"))
    assert(lineage.isEmpty, s"${lineage.size} lineage warnings, e.g. ${lineage.headOption}")
  }
}
