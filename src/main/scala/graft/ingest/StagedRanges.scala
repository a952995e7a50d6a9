package graft.ingest

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Per-key offset range as ONE aggregate: for every distinct value of
  * the `keys` tuple, the minimum and maximum of the non-null `off`.
  * Returns `array<struct<k0, …, kN-1, s, e>>`, one element per key, in
  * no particular order.
  *
  * Attached to the staging write with `Dataset.observe` (see
  * [[StagedRanges]]), it runs inside the write's own tasks: the
  * accumulator each task returns holds one entry per staged file, so
  * the driver learns every file's range without a second pass over
  * the data. Min and max are idempotent, so a partial result merged
  * twice (a re-run map stage) cannot change the answer.
  */
private[ingest] case class KeyRanges(
    keys: Seq[Expression],
    off: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UnsafeRow, Array[Long]]] {

  private type Buf = mutable.HashMap[UnsafeRow, Array[Long]]

  // built on first use, after the keys were bound to the input
  @transient private lazy val keyOf = UnsafeProjection.create(keys)

  override def dataType: DataType = ArrayType(StructType(
    keys.indices.map(i => StructField(s"k$i", keys(i).dataType)) ++
      Seq(StructField("s", LongType, nullable = false),
        StructField("e", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "key_ranges"
  override def children: Seq[Expression] = keys :+ off

  override def createAggregationBuffer(): Buf = mutable.HashMap.empty

  private def add(buf: Buf, k: UnsafeRow, s: Long, e: Long): Unit =
    buf.get(k) match {
      case Some(r) =>
        if (s < r(0)) r(0) = s
        if (e > r(1)) r(1) = e
      case None => buf.update(k.copy(), Array(s, e))
    }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val o = off.eval(input)
    if (o != null) {
      val v = o.asInstanceOf[Long]
      add(buf, keyOf(input), v, v)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach { case (k, r) => add(buf, k, r(0), r(1)) }
    buf
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.iterator.map { case (k, r) =>
      InternalRow.fromSeq(
        keys.indices.map(i => k.get(i, keys(i).dataType)) ++ Seq(r(0), r(1)))
    }.toArray[Any])

  override def serialize(buf: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, r) =>
      out.writeInt(k.getSizeInBytes)
      out.write(k.getBytes)
      out.writeLong(r(0))
      out.writeLong(r(1))
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    var n = in.readInt()
    while (n > 0) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      val k = new UnsafeRow(keys.size)
      k.pointTo(kb, kb.length)
      buf.update(k, Array(in.readLong(), in.readLong()))
      n -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeyRanges =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KeyRanges =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keys = newChildren.init, off = newChildren.last)
}

/** The write-time commit manifest: a frame about to be staged, with
  * its per-key offset ranges observed by the staging tasks themselves
  * (the reference names each file from the offsets its writer saw
  * while writing it, `TopicPartitionWriter.java:313-433`).
  *
  * `staged` is the frame to write; once that write returned,
  * [[ranges]] holds one row per key: the key columns, then the min and
  * max offset. The observation is per instance — a retried commit
  * builds a new one, so a failed attempt's rows never reach the next
  * attempt's manifest. */
private[ingest] final class StagedRanges(df: DataFrame, keys: Seq[String],
                                         off: String) {
  private val observation = Observation()

  val staged: DataFrame = df.observe(observation, ColumnShim.of(
    KeyRanges(keys.map(UnresolvedAttribute.quoted), UnresolvedAttribute.quoted(off))
      .toAggregateExpression()).as("ranges"))

  /** Spark fills the observation from a listener once the write's
    * query succeeded, so it normally arrives within milliseconds of
    * the write returning. The wait is bounded: a listener event the
    * bus dropped would otherwise hang the commit, and an IOException
    * lets `Retry.withBackoff` redo the write. */
  def ranges: Seq[Row] =
    try Await.result(observation.future, 10.minutes).getSeq[Row](0)
    catch { case e: TimeoutException =>
      throw new java.io.IOException("the staging write's offset ranges never arrived", e)
    }
}

