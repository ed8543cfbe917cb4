package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst aggregate sketches (the repo's first
  * `TypedImperativeAggregate`s — preference order (b) in the builder
  * contract: a native aggregate beats an `Aggregator` UDAF beats RDD
  * `treeAggregate`, because it participates in partial aggregation
  * exactly like `count`/`sum`: each task emits one bounded buffer, the
  * exchange moves buffers (never raw rows), and the final merge streams
  * `numPartitions` buffers through one reducer — the same topology HLL's
  * `approx_count_distinct` uses).
  *
  * Reference anchor: the reference's only frequency analytics are exact
  * top-k GROUP BYs (`analysis/flink-analysis.sql:41-50,188-206`); these
  * sketches are the 100 TB extension path for the same questions when the
  * grouped key domain (corpus vocabulary) is itself too large to shuffle.
  */
object SketchAggregates {

  /** Misra–Gries heavy-hitter summary (Misra & Gries 1982, "Finding
    * repeated elements"; merge rule from Agarwal et al. 2012, "Mergeable
    * summaries" — both public-domain algorithms, implemented fresh).
    *
    * Maintains at most `numCounters = m` (token → count) counters:
    *   - seen token: increment its counter;
    *   - unseen token with a free slot: insert at 1;
    *   - unseen token, no free slot: decrement ALL counters, drop zeros
    *     (the classic m-way cancellation — amortized O(1) per row, since
    *     every decrement unit cancels exactly one prior increment unit).
    * Merge (partial → final): sum counters pairwise; if more than m
    *   survive, subtract the (m+1)-th largest count from all and drop the
    *   non-positive remainder (Agarwal et al. §3.1 — keeps the error
    *   bound additive under arbitrary merge trees).
    *
    * GUARANTEE (the one the two-phase exact query relies on): for total
    * stream length N, every counter underestimates its token's true count
    * by at most N/(m+1), so **any token with true count > N/(m+1) is
    * present in the output** — the sketch never false-negatives a heavy
    * hitter; it may false-positive light ones, which a second exact pass
    * over ≤ m candidates removes ([[graft.operators.CorpusStats.heavyHitters]]).
    *
    * Buffer is a mutable map capped at m entries; serialized form is a
    * flat (len,bytes,count)* byte stream, ≤ m·(4+avgTok+8) bytes — at the
    * registered m=200 a partial buffer is ~4 KB, so even a 100k-task scan
    * streams ≤ 400 MB through the final reduce, independent of corpus
    * size or vocabulary (the whole point: an exact wordcount of a 100 TB
    * corpus shuffles the full vocabulary; this shuffles m rows per task).
    *
    * Stored keys are cloned out of the scan's reused UnsafeRow buffers
    * (UTF8String.clone) — required for any TypedImperativeAggregate that
    * retains input references past `update`.
    *
    * Output: array<struct<token, lower_bound>> ordered by (lower_bound
    * DESC, token) — deterministic, but the *set* of sub-threshold
    * survivors is data-order-dependent (like any MG sketch), which is why
    * the sketch itself is spec-pinned by its guarantee rather than
    * oracle-hashed, and the registered oracle query is the exact
    * two-phase form.
    */
  case class MisraGriesAgg(
      child: Expression,
      numCounters: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

    require(numCounters >= 1 && numCounters <= (1 << 20),
      s"misra_gries requires 1 <= numCounters <= 2^20, got $numCounters")

    override def children: Seq[Expression] = child :: Nil
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("lower_bound", LongType, nullable = false))),
      containsNull = false)

    override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
      mutable.HashMap.empty

    override def update(buf: mutable.HashMap[UTF8String, Long],
        input: InternalRow): mutable.HashMap[UTF8String, Long] = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.asInstanceOf[UTF8String]
        val cur = buf.getOrElse(s, -1L)
        if (cur >= 0L) buf.update(s, cur + 1L)
        else if (buf.size < numCounters) buf.update(s.clone(), 1L)
        else {
          // full + unseen: cancel one unit against every counter
          val dead = mutable.ArrayBuffer.empty[UTF8String]
          buf.keysIterator.foreach { k =>
            val c = buf(k) - 1L
            if (c == 0L) dead += k else buf.update(k, c)
          }
          dead.foreach(buf.remove)
        }
      }
      buf
    }

    override def merge(buf: mutable.HashMap[UTF8String, Long],
        other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
      other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
      if (buf.size > numCounters) {
        // subtract the (m+1)-th largest count from every counter
        val counts = buf.valuesIterator.toArray
        java.util.Arrays.sort(counts)
        val cut = counts(counts.length - numCounters - 1)
        val dead = mutable.ArrayBuffer.empty[UTF8String]
        buf.keysIterator.foreach { k =>
          val c = buf(k) - cut
          if (c <= 0L) dead += k else buf.update(k, c)
        }
        dead.foreach(buf.remove)
      }
      buf
    }

    override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
      val entries = buf.toArray
        .sortWith { case ((k1, c1), (k2, c2)) => // count desc, token asc
          c1 > c2 || (c1 == c2 && k1.compareTo(k2) < 0)
        }
        .map { case (k, c) =>
          new GenericInternalRow(Array[Any](k, c)): InternalRow
        }
      new GenericArrayData(entries.asInstanceOf[Array[Any]])
    }

    override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.foreach { case (k, c) =>
        val b = k.getBytes
        out.writeInt(b.length)
        out.write(b)
        out.writeLong(c)
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
      val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = mutable.HashMap.empty[UTF8String, Long]
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        buf.update(UTF8String.fromBytes(b), in.readLong())
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): MisraGriesAgg =
      copy(child = newChildren.head)
    override def prettyName: String = "misra_gries"
  }

  /** Column form: `misraGries($"token", m)` → array<struct<token,
    * lower_bound>> (count-descending). See [[MisraGriesAgg]] for the
    * guarantee and the two-phase exact usage.
    */
  def misraGries(col: Column, numCounters: Int): Column =
    GraftShim.column(
      MisraGriesAgg(GraftShim.expression(col), numCounters).toAggregateExpression())
}
