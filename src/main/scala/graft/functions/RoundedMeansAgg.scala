package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `round(avg(c), scale)` for every child at once: one aggregate whose
  * result is the `array<double>` of the children's rounded means, element
  * `i` bit for bit what Spark's own `round(avg(children(i)), scale)` gives.
  *
  * Why one aggregate instead of N: a ComStock-width row has ~100 floating
  * columns, so N `avg`s carry 2N buffer fields — past
  * `spark.sql.codegen.maxFields`, which drops the aggregate out of
  * whole-stage codegen into generated buffer projections with hundreds of
  * slots, whose split methods the JIT then compiles in every cold run.
  * Here `update` and `merge` are two plain loops over the children.
  *
  * Semantics, those of `Average` over DOUBLE followed by `Round`:
  *  - the sum folds in row order, adding +0.0 for a null (`Average` adds
  *    `coalesce(c, 0.0)`), and partial sums merge as `left + right`;
  *  - the count counts non-null values; a group with count 0 is NULL;
  *  - a FLOAT child widens to DOUBLE first (exact);
  *  - the mean `sum / count` rounds as `Round` does: NaN and ±Inf pass
  *    through, anything else is
  *    `BigDecimal.valueOf(m).setScale(scale, HALF_UP).doubleValue()`.
  *
  * The buffer is the pair (sum DOUBLE, count BIGINT) per child — fixed
  * width, so it lives in the Tungsten aggregation map as `avg`'s did, and
  * the shuffle carries the same bytes.
  */
case class RoundedMeansAgg(
    children: Seq[Expression],
    scale: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate {

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    children.indices.flatMap { i =>
      Seq(AttributeReference(s"sum_$i", DoubleType, nullable = false)(),
        AttributeReference(s"count_$i", LongType, nullable = false)())
    }
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override lazy val aggBufferSchema: StructType =
    StructType(aggBufferAttributes.map(a => StructField(a.name, a.dataType, a.nullable)))

  @transient private lazy val inputs: Array[Expression] = children.toArray
  // Once bound (Partial/Complete mode), a plain column child is a
  // BoundReference: read its primitive straight off the row instead of
  // boxing it through eval. -1 marks any other child.
  @transient private lazy val ordinals: Array[Int] = inputs.map {
    case b: BoundReference => b.ordinal
    case _ => -1
  }
  @transient private lazy val isFloat: Array[Boolean] = inputs.map(_.dataType == FloatType)

  override def initialize(buf: InternalRow): Unit = {
    val n = inputs.length
    var i = 0
    while (i < n) {
      val s = mutableAggBufferOffset + 2 * i
      buf.setDouble(s, 0.0)
      buf.setLong(s + 1, 0L)
      i += 1
    }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val ords = ordinals
    val floats = isFloat
    var i = 0
    while (i < ords.length) {
      val s = mutableAggBufferOffset + 2 * i
      val ord = ords(i)
      if (ord >= 0) {
        if (input.isNullAt(ord)) add(buf, s, 0.0, 0L)
        else add(buf, s, if (floats(i)) input.getFloat(ord).toDouble else input.getDouble(ord), 1L)
      } else inputs(i).eval(input) match {
        case null => add(buf, s, 0.0, 0L)
        case f: Float => add(buf, s, f.toDouble, 1L)
        case d: Double => add(buf, s, d, 1L)
      }
      i += 1
    }
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    val n = inputs.length
    var i = 0
    while (i < n) {
      val s = inputAggBufferOffset + 2 * i
      add(buf, mutableAggBufferOffset + 2 * i, in.getDouble(s), in.getLong(s + 1))
      i += 1
    }
  }

  private def add(buf: InternalRow, s: Int, x: Double, c: Long): Unit = {
    buf.setDouble(s, buf.getDouble(s) + x)
    buf.setLong(s + 1, buf.getLong(s + 1) + c)
  }

  override def eval(buf: InternalRow): Any = {
    val out = new Array[Any](inputs.length)
    var i = 0
    while (i < out.length) {
      val s = mutableAggBufferOffset + 2 * i
      val c = buf.getLong(s + 1)
      if (c != 0L) out(i) = RoundedMeansAgg.round(buf.getDouble(s) / c.toDouble, scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => c.dataType != DoubleType && c.dataType != FloatType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"rounded_means takes FLOAT or DOUBLE columns, not ${c.dataType.sql} (${c.sql})")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def prettyName: String = "rounded_means"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): RoundedMeansAgg =
    copy(children = newChildren)
  override def withNewMutableAggBufferOffset(newOffset: Int): RoundedMeansAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RoundedMeansAgg =
    copy(inputAggBufferOffset = newOffset)
}

object RoundedMeansAgg {

  /** Spark's `Round` on a DOUBLE, HALF_UP at `scale` places. */
  def round(m: Double, scale: Int): Double =
    if (m.isNaN || m.isInfinite) m
    else JBigDecimal.valueOf(m).setScale(scale, RoundingMode.HALF_UP).doubleValue()

  /** Column form: the `array<double>` of `round(avg(c), scale)` per column. */
  def roundedMeans(cols: Seq[Column], scale: Int): Column =
    ColumnBridge.column(RoundedMeansAgg(cols.map(ColumnBridge.expression), scale).toAggregateExpression())
}
