package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Set of distinct rows that overflows instead of passing the limit each
  * add is given: the row that would make it `cap + 1` rows drops every
  * kept row and leaves only the flag. */
final class BoundedRowSet {
  private[graft] var rows = new java.util.HashSet[UnsafeRow]()
  private[graft] var overflowed = false

  /** Adds a copy of `r` unless an equal row is kept already. */
  def add(r: UnsafeRow, cap: Int): Unit =
    if (!overflowed && !rows.contains(r)) {
      if (rows.size >= cap) overflow()
      else rows.add(r.copy())
    }

  /** Adds every row of `o`; an overflowed `o` overflows this set. */
  def addAll(o: BoundedRowSet, cap: Int): Unit =
    if (o.overflowed) overflow() else o.rows.forEach(r => add(r, cap))

  private def overflow(): Unit = {
    overflowed = true
    rows = new java.util.HashSet[UnsafeRow]()
  }
}

/** Aggregate collecting the distinct non-null structs of an
  * `array<struct>` column, bounded: it returns NULL rather than more than
  * `cap` structs. NULL arrays, NULL elements and repeats do not count.
  *
  * The bound holds for everything a stage's partial buffers carry
  * together, not only for each one. A buffer that a task fills from its
  * input rows keeps at most `cap / n` structs, `n` being the number of
  * tasks in the task's stage (`n` = 1 outside a task); the struct that
  * would pass that share overflows the buffer, which then keeps only its
  * flag. Merges keep at most `cap`, and an overflowed partial overflows
  * any merge. So NULL means that some task saw more than its share, not
  * that the input holds more than `cap` distinct structs; the exact set
  * comes back whenever every task stays within its share.
  *
  * This makes the aggregate safe as a `Dataset.observe` metric. There
  * every task ships its partial buffer to the driver in its task result,
  * and the driver merges the buffers only as they arrive: a write of `n`
  * tasks ships at most `cap` structs in all, and a task past its share
  * ships a flag instead of its structs. Unlike `collect_set`, no buffer
  * and no merge grows with the input. A caller reads NULL as "too many"
  * and takes its scalable path. */
case class BoundedDistinctStructs(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BoundedRowSet] {

  require(cap >= 0, "cap must be >= 0")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(elementType, containsNull = false)
  override def prettyName: String = "graft_bounded_distinct_structs"

  private def elementType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRUCT> input, got ${other.sql}")
  }

  // one canonical byte form per struct value, whatever row class the
  // array hands out, so UnsafeRow equality is value equality
  @transient private lazy val toUnsafe = UnsafeProjection.create(elementType)

  override def createAggregationBuffer(): BoundedRowSet = new BoundedRowSet

  override def update(b: BoundedRowSet, input: InternalRow): BoundedRowSet = {
    // an overflowed buffer skips the child, whose arrays it would drop
    val arr = if (b.overflowed) null else child.eval(input).asInstanceOf[ArrayData]
    if (arr != null) {
      val share = taskShare
      val fields = elementType.length
      var i = 0
      while (i < arr.numElements() && !b.overflowed) {
        if (!arr.isNullAt(i)) b.add(toUnsafe(arr.getStruct(i, fields)), share)
        i += 1
      }
    }
    b
  }

  /** The structs one task's buffer may keep: its even share of `cap`
    * among the tasks of its stage. */
  private def taskShare: Int = TaskContext.get() match {
    case null => cap
    case tc => cap / tc.numPartitions()
  }

  override def merge(b: BoundedRowSet, o: BoundedRowSet): BoundedRowSet = {
    b.addAll(o, cap)
    b
  }

  override def eval(b: BoundedRowSet): Any =
    if (b.overflowed) null else new GenericArrayData(b.rows.toArray)

  /** `-1` for an overflowed set; otherwise the row count, then each row's
    * length and bytes. */
  override def serialize(b: BoundedRowSet): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(if (b.overflowed) -1 else b.rows.size)
    b.rows.forEach { r =>
      out.writeInt(r.getSizeInBytes)
      out.write(r.getBytes)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedRowSet = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new BoundedRowSet
    val n = in.readInt()
    if (n < 0) b.overflowed = true
    else (0 until n).foreach { _ =>
      val row = new Array[Byte](in.readInt())
      in.readFully(row)
      val r = new UnsafeRow(elementType.length)
      r.pointTo(row, row.length)
      b.rows.add(r)
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedDistinctStructs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedDistinctStructs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedDistinctStructs =
    copy(child = newChildren.head)
}
