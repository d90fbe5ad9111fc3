package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftFunctions.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Capped bucket membership — the map-side half of every LSH self-pair
  * kernel ([[graft.ops.Dedup.bucketPairs]]).
  *
  * Per group it returns `struct(n: long, members: array<struct>)`: `n`
  * counts every input row of the bucket, and `members` holds the input
  * structs while `n ≤ maxBucket` and becomes null as soon as the bucket
  * passes the cap, on update or on merge. Spark runs it with partial
  * aggregation (it is a [[TypedImperativeAggregate]], like
  * [[BoundedTopKAgg]]), so a map task ships at most `maxBucket` members per
  * bucket, and a hot bucket already over the cap ships one count record —
  * the exchange is bounded by the rows that can still pair, not by the
  * input. The Window count it replaces shuffled and sorted every member of
  * a hot bucket onto one reducer before dropping it.
  *
  * Null input structs are counted in `n` but never kept as members.
  */
final case class BucketMembersAgg(
    child: Expression,
    maxBucket: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BucketMembersAgg.Buffer] with UnaryLike[Expression] {
  require(maxBucket >= 0, s"maxBucket must be non-negative: $maxBucket")

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  @transient private lazy val rowProjection: UnsafeProjection =
    UnsafeProjection.create(structType)

  override def createAggregationBuffer(): BucketMembersAgg.Buffer = new BucketMembersAgg.Buffer

  override def update(buffer: BucketMembersAgg.Buffer, input: InternalRow): BucketMembersAgg.Buffer = {
    buffer.n += 1
    if (buffer.members != null) {
      if (buffer.n > maxBucket) buffer.members = null
      else {
        val v = child.eval(input)
        if (v != null) buffer.members += v.asInstanceOf[InternalRow].copy()
      }
    }
    buffer
  }

  override def merge(buffer: BucketMembersAgg.Buffer, other: BucketMembersAgg.Buffer): BucketMembersAgg.Buffer = {
    buffer.n += other.n
    if (buffer.members != null) {
      if (buffer.n > maxBucket || other.members == null) buffer.members = null
      else buffer.members ++= other.members // deserialized rows are already private copies
    }
    buffer
  }

  override def eval(buffer: BucketMembersAgg.Buffer): Any =
    InternalRow(buffer.n,
      if (buffer.members == null) null else new GenericArrayData(buffer.members.toArray[Any]))

  /** Layout: n (long), member count (int, -1 once over the cap), then each
    * member as (size int, unsafe-row bytes).
    */
  override def serialize(buffer: BucketMembersAgg.Buffer): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dos = new DataOutputStream(out)
    dos.writeLong(buffer.n)
    if (buffer.members == null) dos.writeInt(-1)
    else {
      dos.writeInt(buffer.members.length)
      val writeBuffer = new Array[Byte](4096) // for off-heap-backed rows
      buffer.members.foreach { r =>
        val unsafe = rowProjection(r) // projection output is reused; bytes copied below
        dos.writeInt(unsafe.getSizeInBytes)
        unsafe.writeToStream(out, writeBuffer)
      }
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BucketMembersAgg.Buffer = {
    val buf = new BucketMembersAgg.Buffer
    val bb = ByteBuffer.wrap(bytes)
    buf.n = bb.getLong
    val count = bb.getInt
    if (count < 0) buf.members = null
    else {
      val nFields = structType.length
      var i = 0
      while (i < count) {
        val size = bb.getInt
        val rowBytes = new Array[Byte](size)
        bb.get(rowBytes)
        val row = new UnsafeRow(nFields)
        row.pointTo(rowBytes, size)
        buf.members += row
        i += 1
      }
    }
    buf
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("members", ArrayType(child.dataType, containsNull = false), nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "bucket_members"
  override def withNewMutableAggBufferOffset(newOffset: Int): BucketMembersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketMembersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BucketMembersAgg =
    copy(child = newChild)
}

object BucketMembersAgg {

  /** Row count of one bucket, and its members until the count passes the
    * cap (null from then on).
    */
  final class Buffer {
    var n: Long = 0L
    var members: ArrayBuffer[InternalRow] = ArrayBuffer.empty
  }

  /** Column face: `bucket_members(struct, maxBucket)` as an aggregate. */
  def members(input: Column, maxBucket: Int): Column =
    column(BucketMembersAgg(expression(input), maxBucket).toAggregateExpression())
}
