package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by thread: a span's parent is the
  * innermost open span on the same thread, unless one is given, which is
  * how the stream thread's micro-batch spans hang under the stream pass
  * opened on the load-generator thread. Off, it only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile var on: Boolean = enabled

  def current: Int = open.get.headOption.getOrElse(-1)

  def span[T](name: String, label: String = "", parent: Int = -2)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val p = if (parent == -2) current else parent
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        done.synchronized(done += Span(id, p, name, label, t0, t1))
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

/** Layer counters fed by Spark's own listener interfaces and, for codegen,
  * by Spark's JVM-wide compile counters read at `attach()` and `detach()`.
  * Everything is summed over the attached intervals since `reset()`;
  * `snapshot()` reads the sums after the listener bus has drained.
  */
final class LayerCounters(spark: SparkSession) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val blockBytes = mutable.Map.empty[String, Long]
  private val rdds = mutable.Set.empty[Int]
  private var blockPeak = 0L

  private def add(k: String, v: Double): Unit = c(k) += v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("scheduler.jobs", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        add("scheduler.tasks", 1)
        add("tasks.run_ms", m.executorRunTime)
        add("tasks.cpu_ms", m.executorCpuTime / 1e6)
        add("tasks.gc_ms", m.jvmGCTime)
        add("scheduler.delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      add("scheduler.stages", 1)
      if (s.numTasks == 1) add("scheduler.single_task_stages", 1)
      stageTaskMs.remove((s.stageId, s.attemptNumber())).foreach { ms =>
        if (ms.size > 1) skews += ms.max / math.max(1.0, LayerCounters.median(ms.map(_.toDouble).toSeq))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (bytes > 0) blockBytes(b.blockId.name) = bytes else blockBytes.remove(b.blockId.name)
      b.blockId.asRDDId.foreach(r => rdds += r.rddId)
      blockPeak = math.max(blockPeak, blockBytes.valuesIterator.sum)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val phases = qe.tracker.phases
        add("catalyst.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.add_batch_ms", d("addBatch"))
      add("streaming.plan_ms", d("queryPlanning"))
      add("streaming.wal_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        c("streaming.state_rows") = math.max(c("streaming.state_rows"), s.numRowsTotal.toDouble)
        c("streaming.state_bytes") = math.max(c("streaming.state_bytes"), s.memoryUsedBytes.toDouble)
        add("streaming.state_commit_ms", s.commitTimeMs)
        add("streaming.rows_dropped_by_watermark", s.numRowsDroppedByWatermark)
      }
    }
  }

  private var compileNs0 = 0L
  private var compiles0 = 0L

  def attach(): Unit = {
    compileNs0 = Shim.compileNs
    compiles0 = Shim.compiles
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Shim.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      add("codegen.compile_ms", (Shim.compileNs - compileNs0) / 1e6)
      add("codegen.compiles", (Shim.compiles - compiles0).toDouble)
    }
  }

  def reset(): Unit = synchronized {
    c.clear(); stageTaskMs.clear(); skews.clear(); blockBytes.clear(); rdds.clear()
    blockPeak = 0L
  }

  /** Adds a sample measured outside the listeners (sink timings). */
  def record(k: String, v: Double): Unit = synchronized(add(k, v))

  def snapshot(): Map[String, Double] = {
    Shim.drain(spark)
    synchronized {
      c.toMap ++ Map(
        "shuffle.skew" -> (if (skews.isEmpty) 1.0 else LayerCounters.median(skews.toSeq)),
        "blocks.peak_bytes" -> blockPeak.toDouble,
        "blocks.rdds" -> rdds.size.toDouble)
    }
  }
}

object LayerCounters {
  /** The median as `stats.median` takes it: the mean of the two middle
    * values of an even count.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.size / 2
    if (s.size % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2
  }
}
