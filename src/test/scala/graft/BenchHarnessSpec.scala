package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Rate

/** The stream-replay harness behind every rate Bench publishes: one
  * pass, the median-of-five measure, the prefix attribution, and the
  * JSON the artifact carries.
  */
class BenchHarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val chunks = Seq(
    Seq((1L, "a"), (2L, "b")),
    Seq((3L, "c")),
    Seq((4L, "d"), (5L, "e"), (6L, "f")))

  /** Temporary checkpoints streamPass has left behind. */
  private def replayCheckpoints(): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_replay")).toSet
    finally s.close()
  }

  test("streamPass delivers one micro-batch per chunk, in order, and the flush uncounted") {
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val before = replayCheckpoints()
    val rate = Bench.streamPass(spark, Seq("id", "s"), chunks) { sdf =>
      sdf.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        sizes.synchronized { sizes += batch.count() }
        ()
      }
    }
    assert(sizes.toSeq == Seq(2L, 1L, 3L))
    assert(rate > 0)
    assert(replayCheckpoints() == before)
    sizes.clear()
    Bench.streamPass(spark, Seq("id", "s"), chunks, flush = Seq((7L, "g"))) { sdf =>
      sdf.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        sizes.synchronized { sizes += batch.count() }
        ()
      }
    }
    assert(sizes.toSeq == Seq(2L, 1L, 3L, 1L))
  }

  test("a gate failing on the second chunk propagates and leaves no query running") {
    val before = replayCheckpoints()
    val e = intercept[Exception] {
      Bench.streamPass(spark, Seq("id", "s"), chunks) { sdf =>
        sdf.writeStream.foreachBatch { (_: DataFrame, batchId: Long) =>
          if (batchId == 1L) throw new IllegalStateException("gate broke on chunk two")
          ()
        }
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("gate broke on chunk two")))
    assert(spark.streams.active.isEmpty)
    assert(replayCheckpoints() == before)
  }

  test("measure(2) runs two warm-ups and reports the median of five timed passes") {
    val values = Iterator(100.0, 200.0, 5.0, 1.0, 4.0, 2.0, 3.0)
    var calls = 0
    val rate = Bench.measure(2)(() => { calls += 1; values.next() })
    assert(calls == 7)
    assert(rate == Rate(3.0, Seq(1.0, 2.0, 3.0, 4.0, 5.0), null))
  }

  test("a throwing body gives -1.0, no runs and the one-line error text") {
    val msg = "bad\n\t  input " + ("x" * 300)
    val expected = "IllegalArgumentException: " + ("bad input " + "x" * 300).take(200)
    assert(Bench.measure(1)(throw new IllegalArgumentException(msg)) ==
      Rate(-1.0, Nil, expected))
    // a pass that throws after setup fails the same way
    assert(Bench.measure(1)(() => throw new IllegalArgumentException(msg)) ==
      Rate(-1.0, Nil, expected))
    assert(Bench.errorText(new RuntimeException()) == "RuntimeException: null")
  }

  test("prefixRates warms each prefix once and keeps the median of the next three") {
    var calls = Map.empty[String, Int]
    def pass(name: String, values: Double*): (String, () => Double) = {
      val it = values.iterator
      name -> (() => { calls += name -> (calls.getOrElse(name, 0) + 1); it.next() })
    }
    val rates = Bench.prefixRates(Seq(
      pass("replay", 1000.0, 30.0, 10.0, 20.0),
      pass("gate", 0.5, 7.0, 9.0, 8.0)))
    assert(rates == Seq("replay" -> 20.0, "gate" -> 8.0))
    assert(calls == Map("replay" -> 4, "gate" -> 4))
  }

  test("the JSON renderer prints what the rate tuples printed") {
    assert(Rate(-1.0, Nil, null).json("scrub_gate") ==
      """"scrub_gate_rows_per_sec":-1.0,"scrub_gate_runs":[],"scrub_gate_error":null""")
    assert(Rate(-1.0, Nil, "X: a \"b\"").json("docs_gate") ==
      """"docs_gate_rows_per_sec":-1.0,"docs_gate_runs":[],"docs_gate_error":"X: a \"b\""""")
    assert(Rate(2.5, Seq(1.0, 2.5, 3.0), null).json("stream_ingest", "ingest") ==
      """"stream_ingest_rows_per_sec":2.5,"ingest_runs":[1.0,2.5,3.0],"ingest_error":null""")
    assert(Rate(-1.0, Nil, null, matched = Some(false)).json("feature_pipeline") ==
      """"feature_pipeline_rows_per_sec":-1.0,"feature_pipeline_runs":[],""" +
        """"feature_pipeline_match":false,"feature_pipeline_error":null""")
    assert(Rate(1.0, Nil, null, stages = Seq("replay" -> 9.5, "pii" -> 3.0)).stagesJson ==
      """{"replay":9.5,"pii":3.0}""")
    assert(Rate(-1.0, Nil, null).stagesJson == "{}")
  }

  test("published stage keys are the composites' stage lists, in order") {
    // renaming or reordering a stage changes the artifact contract:
    // docs_gate_stage_rows_per_sec, admission_stage_rows_per_sec and
    // curation_stage_sec key each prefix by its last stage's name
    assert(Bench.prefixes(Bench.docsGateStages(spark)).map(_._1).mkString(",") ==
      "replay,pii,decontam,quality,dedup,split")
    val admission = graft.streaming.StreamingFeatures.admissionStages(
      spark, "unused", maxAvgNlpMicros = 0L, minWeightMicros = 0L, maxTokens = 0L)
    assert(Bench.prefixes(admission).map(_._1).mkString(",") ==
      "quality,bloom,winnow,dsir,perplexity,bpe")
    assert(Bench.prefixes(graft.operators.Curation.completeStages(spark, "unused"))
      .map(_._1).mkString(",") == "text,neardup,complete")
  }

  test("the curation attribution's whole stage list is the registered q_curation_complete plan") {
    // Bench times completeStages at its defaults; folded whole over the
    // documents table it must answer exactly what the registered query
    // answers, or the attribution times a different plan
    val sf = TestSpark.sf
    val folded = Function.chain(graft.operators.Curation.completeStages(spark, sf)
      .map(_._2))(Tables.documents(spark, sf)).collect().toSeq
    val registered = SparkEntry.queries("q_curation_complete")(spark, sf).collect().toSeq
    // the semantic stage must fire, or a threshold drift would not show
    assert(registered.exists(_.getAs[String]("drop_reason") == "semantic"))
    val differing = folded.zip(registered).count { case (a, b) => a != b }
    assert(folded.length == registered.length && differing == 0,
      s"$differing of ${registered.length} rows differ")
  }
}
