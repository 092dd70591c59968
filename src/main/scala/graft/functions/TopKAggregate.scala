package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k selection as a partial-aggregating Catalyst aggregate,
  * an alternative to `row_number() OVER (PARTITION BY g ORDER BY …) <= k`
  * for few groups with corpus-sized contents.
  *
  * Both forms shuffle at most k rows per group per map task: Spark
  * plans the window form as a `Partial` `WindowGroupLimit` below the
  * exchange and a `Final` one above it. The difference is the map side.
  * The `Partial` limit first sorts the task's whole input by group and
  * order key. This aggregate instead keeps a ≤ k-row buffer per group
  * per map task (a bounded heap, the min-struct top-1 trick generalized
  * to k) and sorts nothing but those buffers. Merge is associative and
  * commutative; with a TOTAL tie-broken ordering (the callers all end
  * the sort key with a unique id) the result is independent of
  * partitioning — bit-identical to the window form.
  *
  * `child` must be a struct; the first `sortDesc.length` fields are the
  * sort key (per-field descending flags, nulls first when ascending /
  * last when descending, matching Spark's window-order defaults), the
  * remaining fields ride along as payload. `eval` returns the k
  * minimal structs in rank order, so `posexplode` reconstructs
  * `(rank-1, row)` exactly as the filtered window emitted them.
  */
case class BoundedTopK(
    child: Expression,
    k: Int,
    sortDesc: Seq[Boolean],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[UnsafeRow]]
  with UnaryLike[Expression] {

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val numFields = structType.size
  private lazy val sortTypes: Array[DataType] =
    structType.fields.take(sortDesc.length).map(_.dataType)

  private def cmpValue(dt: DataType, a: Any, b: Any): Int = dt match {
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case _: DecimalType => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    case other => throw new IllegalArgumentException(s"unorderable top-k sort field: $other")
  }

  /** Rank order: row that the window would emit FIRST compares smallest. */
  private def cmpRows(x: InternalRow, y: InternalRow): Int = {
    var i = 0
    while (i < sortTypes.length) {
      val dt = sortTypes(i)
      val xn = x.isNullAt(i)
      val yn = y.isNullAt(i)
      val c =
        if (xn && yn) 0
        else if (xn || yn) {
          // null = smallest pre-flip → NULLS FIRST under asc and NULLS
          // LAST under desc, Spark's window-order defaults for both
          if (xn) -1 else 1
        } else cmpValue(dt, x.get(i, dt), y.get(i, dt))
      val eff = if (sortDesc(i)) -c else c
      if (eff != 0) return eff
      i += 1
    }
    0
  }

  private lazy val rankOrder: java.util.Comparator[UnsafeRow] =
    (a: UnsafeRow, b: UnsafeRow) => cmpRows(a, b)
  // heap keeps the CURRENT WORST (rank-largest) survivor at the head
  private lazy val reverseOrder: java.util.Comparator[UnsafeRow] =
    (a: UnsafeRow, b: UnsafeRow) => cmpRows(b, a)

  private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def createAggregationBuffer(): java.util.PriorityQueue[UnsafeRow] =
    new java.util.PriorityQueue[UnsafeRow](k + 1, reverseOrder)

  override def update(
      buf: java.util.PriorityQueue[UnsafeRow], input: InternalRow): java.util.PriorityQueue[UnsafeRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (buf.size < k) {
        buf.offer(toUnsafe(row).copy()) // deep copy: owns its bytes
      } else if (cmpRows(row, buf.peek()) < 0) {
        buf.poll()
        buf.offer(toUnsafe(row).copy())
      }
    }
    buf
  }

  override def merge(
      buf: java.util.PriorityQueue[UnsafeRow],
      other: java.util.PriorityQueue[UnsafeRow]): java.util.PriorityQueue[UnsafeRow] = {
    val it = other.iterator()
    while (it.hasNext) {
      val row = it.next() // deserialized rows own their bytes already
      if (buf.size < k) buf.offer(row)
      else if (cmpRows(row, buf.peek()) < 0) { buf.poll(); buf.offer(row) }
    }
    buf
  }

  override def eval(buf: java.util.PriorityQueue[UnsafeRow]): Any = {
    val arr = buf.toArray(new Array[UnsafeRow](buf.size))
    java.util.Arrays.sort(arr, rankOrder)
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: java.util.PriorityQueue[UnsafeRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val bytes = it.next().getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): java.util.PriorityQueue[UnsafeRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, len)
      buf.offer(row)
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedTopK =
    copy(child = newChild)
  override def prettyName: String = "bounded_top_k"
}

object BoundedTopK {
  /** Column API: k minimal structs of `s` under (per-field desc flags
    * over the leading `sortDesc.length` fields, remaining fields =
    * payload), in rank order. */
  def topK(s: Column, k: Int, sortDesc: Seq[Boolean]): Column =
    ColumnBridge.toColumn(
      BoundedTopK(ColumnBridge.toExpression(s), k, sortDesc).toAggregateExpression())
}
