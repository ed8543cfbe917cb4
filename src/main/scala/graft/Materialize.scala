package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of graft's intermediates: it computes a frame once and
  * frees exactly the blocks a query made.
  *
  * [[apply]] checkpoints lazily: the first job that reads the frame
  * fills its blocks, every later reader reuses them, and the lineage
  * stops at the boundary. [[now]] checkpoints eagerly, for iterative
  * loops that need an action per round anyway. Both are Spark's local
  * checkpoint (blocks in the executors' block managers, no files).
  *
  * Each call records the checkpoint's RDD, the one under the returned
  * frame's own `LogicalRDD` (never the context's persistent-RDD set), in
  * the calling thread's innermost open [[scoped]] block. A scope frees
  * exactly what was recorded in it, so queries that share one session,
  * on one thread or on several, never free each other's blocks. Outside
  * every scope nothing is recorded and the ContextCleaner frees a
  * frame's blocks once the frame is garbage.
  *
  * Blocks are freed through the context, not `RDD.unpersist`: that call
  * only adds a WARN per locally checkpointed RDD ("its lineage has been
  * truncated") and a storage-level reset, and a checkpoint this module
  * frees is by design never read again.
  *
  * A frame whose scope has closed must not be read again: a lazy frame
  * that was computed inside its scope then fails with Spark's
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`, never with wrong rows.
  */
object Materialize {
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[RDD[_]]]](() => Nil)

  /** `df`, checkpointed lazily and recorded in the open scope. */
  def apply(df: DataFrame): DataFrame = record(df.localCheckpoint(eager = false))

  /** `df`, checkpointed eagerly and recorded in the open scope. */
  def now(df: DataFrame): DataFrame = record(df.localCheckpoint())

  /** Runs `body`, then unpersists (blocking) every checkpoint recorded
    * inside it on this thread, whether `body` returned or threw. Scopes
    * nest: an inner scope frees only its own checkpoints.
    */
  def scoped[T](body: => T): T = {
    val made = ArrayBuffer.empty[RDD[_]]
    open.set(made :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      made.foreach(GraftShim.unpersist(_, blocking = true))
    }
  }

  /** Frees `df`'s checkpoints now, ahead of its scope: the superseded
    * round of an iterative loop, which nothing reads again (so the
    * removal does not wait).
    */
  def release(df: DataFrame): Unit = rdds(df).foreach(GraftShim.unpersist(_, blocking = false))

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  private def record(cp: DataFrame): DataFrame = {
    open.get.headOption.foreach(_ ++= rdds(cp))
    cp
  }
}
