package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. It times graft through its public entry
  * points and writes the raw samples as JSON; `run.py` turns them into
  * metrics and checks the outputs.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <tables dir> --work <scratch dir> --out <file>
  */
object Main {
  val Cores = 4

  /** The batch workload: two TPC-H shapes (aggregate; join and top-k), a
    * reference analysis family (geo rollup), a temporal join (click
    * attribution) and a windowed feature job. Together they generate 61
    * classes, which Spark's 100-entry codegen cache keeps, so warm passes
    * compile nothing. Sets of about 100 classes sit at the cache's edge:
    * its four segments of 25 each hold or overflow by chance, and warm
    * passes recompiled from 26 to 64 classes in different runs.
    */
  val EventQueries = Seq(
    "q1_pricing_summary", "q_top_orders", "q_geo_rollup", "q_click_attribution",
    "q_features_20m")

  val EventTables = Seq("customer", "orders", "lineitem", "events", "documents")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val t0 = System.nanoTime()
    val spark = GraftSession.build(s"local[$Cores]", Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a("trace") == "1")
    val counters = if (tracer.enabled) Some(new LayerCounters(spark)) else None
    val run = new Run(spark, a("seed").toLong, a("seconds").toDouble, a("data"), work,
      tracer, counters)
    val out = try {
      if (workload == "feature_stream") new StreamRun(run).apply()
      else if (workload == "event_analytics") run.batch(EventQueries, EventTables)
      else throw new IllegalArgumentException(s"unknown workload $workload")
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")),
      Json.render(out ++ Map("session_s" -> sessionS, "spans" -> tracer.spans.map(spanJson))))
  }

  private def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "label" -> s.label, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
}

/** State and timing shared by the batch and streaming workloads. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val data: String, val work: String, val tracer: Tracer,
    val counters: Option[LayerCounters]) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private var peakHeap = 0L

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def fail(what: String, t: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
  }

  /** Collects garbage and keeps the largest heap left in use afterwards. */
  def sampleHeap(): Unit = {
    System.gc()
    peakHeap = math.max(peakHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Runs `body` with the layer listeners attached (traced passes only). */
  def traced[T](on: Boolean)(body: => T): T =
    if (!on) { tracer.on = false; body }
    else {
      tracer.on = true
      counters.foreach(_.attach())
      try body
      finally { counters.foreach(_.detach()); tracer.on = false }
    }

  /** How many measured passes of about `passS` seconds fill `budget`
    * seconds (at least two). A fixed count for a given `--seconds`, so
    * every run of a workload medians the same number of passes.
    */
  def passCount(budget: Double, passS: Double): Int =
    math.max(2, math.round(budget / passS).toInt)

  /** `passes` measured untraced passes; a traced run pairs each with a
    * traced one. The traced member leads every other pair (traced,
    * untraced, untraced, traced, ...), so pass order does not bias the
    * tracing overhead. `pass(traced)` returns its seconds. Returns the
    * untraced and the traced seconds, index k of each from pair k.
    */
  def warmPasses(passes: Int)(pass: Boolean => Double): (Seq[Double], Seq[Double]) = {
    def one(on: Boolean): Double = { val s = traced(on)(pass(on)); sampleHeap(); s }
    val pairs = (0 until passes).map { k =>
      if (!tracer.enabled) (one(false), None)
      else if (k % 2 == 0) { val t = one(true); (one(false), Some(t)) }
      else { val u = one(false); (u, Some(one(true))) }
    }
    (pairs.map(_._1), pairs.flatMap(_._2))
  }

  def common: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq, "peak_heap_mb" -> peakHeap / 1048576.0,
    "cores" -> Main.Cores)

  /** Layer counters summed over `passes` traced passes, as per-pass values. */
  def layers(passes: Int): Map[String, Double] =
    counters.map { c =>
      val peaks = Set("streaming.state_rows", "streaming.state_bytes", "shuffle.skew",
        "blocks.peak_bytes")
      c.snapshot().map { case (k, v) => k -> (if (peaks(k)) v else v / passes) }
    }.getOrElse(Map.empty)

  // ---------------------------------------------------------------- batch

  private val entry = SparkEntry.queries

  /** One query: the operator call (analysis and any eager work) plus a
    * noop-sink write. Returns (total s, call s, the frame), or None if it
    * failed.
    */
  private def runQuery(name: String, dir: String): Option[(Double, Double, DataFrame)] = {
    attempted += 1
    tracer.span("query", name) {
      try {
        val t0 = System.nanoTime()
        val df = tracer.span("operators.call", name)(entry(name)(spark, dir))
        val t1 = System.nanoTime()
        tracer.span("execute", name)(df.write.format("noop").mode("overwrite").save())
        Some(((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, df))
      } catch { case NonFatal(t) => fail(name, t); None }
    }
  }

  /** The output check: each frame's fingerprint. It re-executes the frames
    * after the pass that made them, so no timed figure includes it.
    */
  private def check(frames: Seq[(String, DataFrame)]): Map[String, String] =
    frames.flatMap { case (name, df) =>
      attempted += 1
      try Some(name -> Fingerprint.of(df))
      catch { case NonFatal(t) => fail(s"check $name", t); None }
    }.toMap

  /** Runs `body`, the cold pass, and returns the Janino compiles it made as
    * layer metrics: warm passes may find every class in the codegen cache.
    */
  def coldCodegen[T](body: => T): (T, Map[String, Double]) = {
    val (ns0, n0) = (Shim.compileNs, Shim.compiles)
    val r = body
    (r, Map("codegen.cold_compile_ms" -> (Shim.compileNs - ns0) / 1e6,
      "codegen.cold_compiles" -> (Shim.compiles - n0).toDouble))
  }

  /** One cold pass, then the output check, [[WarmupPasses]] unmeasured
    * passes, then measured warm passes of all `names`.
    */
  def batch(names: Seq[String], tables: Seq[String]): Map[String, Any] = {
    // set-up: the seed-ordered copy of the input tables, made three times
    val setups = (1 to 3).map(i =>
      secs(Inputs.reorderTables(spark, data, s"$work/input$i", seed, tables))._2)
    val dir = s"$work/input3"
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var callS = 0.0
    var frames = Seq.empty[(String, DataFrame)]
    def pass(kind: String): Double = tracer.span("pass", kind) {
      val results = names.flatMap(n => runQuery(n, dir).map(n -> _))
      if (kind == "traced") callS += results.map(_._2._2).sum
      frames = results.map { case (n, (_, _, df)) => n -> df }
      val times = results.map { case (n, (t, _, _)) => n -> t }
      passes += Map("kind" -> kind, "queries" -> times.toMap)
      times.map(_._2).sum
    }
    val (cold, coldLayer) = coldCodegen(tracer.span("workload", "cold")(pass("cold")))
    val prints = check(frames)
    sampleHeap()
    counters.foreach(_.reset())
    val (warm, withTrace) = tracer.span("workload", "warm") {
      (1 to WarmupPasses).foreach { _ => traced(false)(pass("warmup")); sampleHeap() }
      warmPasses(passCount(seconds, BatchPassS))(on => pass(if (on) "traced" else "warm"))
    }
    val traceOnly = if (!tracer.enabled) Map.empty else Map(
      "layers" -> (layers(withTrace.size) ++ coldLayer +
        ("operators.call_s" -> callS / withTrace.size)),
      "functions" -> functionSamples())
    common ++ traceOnly ++ Map("setup_s" -> setups, "cold_s" -> cold, "warm_s" -> warm,
      "traced_warm_s" -> withTrace, "passes" -> passes.toSeq, "fingerprints" -> prints)
  }

  /** Seconds of one warm event_analytics pass on 4 cores, which sets how
    * many passes `--seconds` buys.
    */
  val BatchPassS = 2.0

  /** Passes the JIT needs after the cold one before a pass takes a steady
    * time. On 4 cores a warm pass fell from 2.1-2.5 s to 1.7-1.9 s within
    * five passes, then stepped down again to 1.3-1.5 s somewhere between
    * the 7th and the 19th, at a different pass in every JVM; the JIT
    * compiled about 1,200 methods a second until then and about 350
    * after. Measuring across that step made the slowest query's latency
    * spread 21-28% from run to run. After 16 passes a late step can still
    * reach the first measured passes, but not their median.
    */
  val WarmupPasses = 16

  /** Timings of the native `functions/` column constructors for a rows/s
    * rate: three noop writes over the documents (text hashes, Bloom
    * positions) and embeddings (vector kernels), replicated so the kernels,
    * not the fixed cost of a job, dominate. Returns each rate's row count
    * and seconds.
    */
  private def functionSamples(): Map[String, Map[String, Any]] = {
    import graft.functions.{BloomFunctions => B, TextHashes => T, VectorFunctions => V}
    def rate(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): Map[String, Any] = {
      val n = df.count()
      Map("rows" -> n, "seconds" -> (1 to 3).map(_ => secs(df.select(cols: _*)
        .write.format("noop").mode("overwrite").save())._2))
    }
    def replicated(t: String) = spark.read.parquet(s"$data/$t.parquet")
      .withColumn("__r", explode(sequence(lit(1), lit(FunctionReplicas)))).drop("__r")
      .localCheckpoint()
    val docs = replicated("documents")
    val vecs = replicated("embeddings")
    val text = col("text")
    val out = Map(
      "functions.texthashes_rows_per_s" -> rate(docs, Seq(
        T.minhashSigsCol(T.ngramHashes64Col(text, 5), 12), T.simhash62(split(text, " ")),
        T.fingerprint62(text), T.ngramRepStatsMultiCol(text, Seq(2, 3, 4)),
        T.winnowSelectCol(text, 5, 4))),
      "functions.bloom_rows_per_s" -> rate(docs,
        Seq(B.bloomPositionsCol(xxhash64(text), 1L << 20, 7))),
      "functions.vector_rows_per_s" -> rate(vecs, Seq(V.quantizeCol(col("embedding")),
        V.lshKeyCol(col("embedding"), 16))))
    docs.unpersist(); vecs.unpersist()
    out
  }

  val FunctionReplicas = 40
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
