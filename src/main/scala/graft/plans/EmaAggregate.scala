package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Final EMA(span, adjust=False) per group as a custom
  * TypedImperativeAggregate: y_t = a*x_t + (1-a)*y_{t-1}, a =
  * 2/(span+1) — the true recursive fold, which no fixed-frame window
  * can express and whose closed-form rewrite (see
  * TimeSeries.ema) needs (1-a)^{-i} terms that overflow on very long
  * series. The buffer holds (ts, value) pairs merged across
  * partitions and folds in event-time order at eval — the standard
  * shape for order-dependent aggregates (state is O(group size);
  * for unbounded groups the streaming twin folds incrementally
  * instead).
  *
  * The buffer is CAPPED at `maxBufferRows` per group (default
  * [[EmaAggregate.DefaultMaxBufferRows]], override with spark conf
  * `graft.ema.maxBufferRows`): a mis-aimed groupBy on a 100 TB fact
  * table would otherwise OOM an executor with no actionable error —
  * the guard raises first, naming the key and the fix, in the same
  * fail-loudly style as the closed-form overflow guard.
  */
case class EmaAggregate(
    tsChild: Expression,
    valueChild: Expression,
    span: Int,
    maxBufferRows: Int = EmaAggregate.DefaultMaxBufferRows,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[ArrayBuffer[(Long, Double)]] {

  private val alpha = 2.0 / (span + 1)

  private def capCheck(n: Int): Unit =
    if (n > maxBufferRows)
      throw new IllegalStateException(
        s"graft_ema buffer exceeded $maxBufferRows rows in ONE group: this aggregate " +
          "materializes each group's (ts, value) series to fold it in event-time order, " +
          "so a group this large points at a mis-aimed groupBy key (or a series that " +
          "belongs in the streaming fold). Re-key the aggregation, pre-resample the " +
          s"series, or raise spark conf ${EmaAggregate.MaxBufferRowsKey}.")

  override def children: Seq[Expression] = Seq(tsChild, valueChild)
  override def nullable: Boolean         = true
  override def dataType: DataType        = DoubleType
  override def prettyName: String        = "graft_ema"

  override def createAggregationBuffer(): ArrayBuffer[(Long, Double)] = ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Long, Double)], input: InternalRow): ArrayBuffer[(Long, Double)] = {
    val ts = tsChild.eval(input)
    val v  = valueChild.eval(input)
    if (ts != null && v != null) {
      buf += ((ts.asInstanceOf[Long], v.asInstanceOf[Double]))
      capCheck(buf.length)
    }
    buf
  }

  override def merge(a: ArrayBuffer[(Long, Double)], b: ArrayBuffer[(Long, Double)]): ArrayBuffer[(Long, Double)] = {
    a ++= b
    capCheck(a.length)
    a
  }

  override def eval(buf: ArrayBuffer[(Long, Double)]): Any =
    if (buf.isEmpty) null
    else {
      val sorted = buf.sortBy(_._1)
      var y      = sorted.head._2
      var i      = 1
      while (i < sorted.length) { y = alpha * sorted(i)._2 + (1 - alpha) * y; i += 1 }
      y
    }

  override def serialize(buf: ArrayBuffer[(Long, Double)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (t, v) => out.writeLong(t); out.writeDouble(v) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Double)] = {
    val in  = new DataInputStream(new ByteArrayInputStream(bytes))
    val n   = in.readInt()
    val buf = new ArrayBuffer[(Long, Double)](n)
    var i   = 0
    while (i < n) { buf += ((in.readLong(), in.readDouble())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EmaAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EmaAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): EmaAggregate =
    copy(tsChild = newChildren(0), valueChild = newChildren(1))
}

/** Full per-row EMA SERIES per group — [[EmaAggregate]]'s buffer and
  * fold, but eval emits every intermediate y_t as
  * array<struct<ts_us, value, ema>> in event-time order instead of
  * only the final value. This is the horizon-free long-series path
  * TimeSeries.ema auto-routes to: the recursive fold never forms the
  * (1-a)^{-i} closed-form terms, so no row count overflows; memory
  * is the same O(group size) buffer the final-value fold already
  * holds (capped by the same `graft.ema.maxBufferRows` guard).
  */
case class EmaSeriesAggregate(
    tsChild: Expression,
    valueChild: Expression,
    span: Int,
    maxBufferRows: Int = EmaAggregate.DefaultMaxBufferRows,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[ArrayBuffer[(Long, Double)]] {

  private val alpha = 2.0 / (span + 1)

  private def capCheck(n: Int): Unit =
    if (n > maxBufferRows)
      throw new IllegalStateException(
        s"graft_ema_series buffer exceeded $maxBufferRows rows in ONE group: " +
          "re-key the aggregation, pre-resample the series, or raise spark conf " +
          EmaAggregate.MaxBufferRowsKey + ".")

  override def children: Seq[Expression] = Seq(tsChild, valueChild)
  override def nullable: Boolean         = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ts_us", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ema", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ema_series"

  override def createAggregationBuffer(): ArrayBuffer[(Long, Double)] = ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Long, Double)], input: InternalRow): ArrayBuffer[(Long, Double)] = {
    val ts = tsChild.eval(input)
    val v  = valueChild.eval(input)
    if (ts != null && v != null) {
      buf += ((ts.asInstanceOf[Long], v.asInstanceOf[Double]))
      capCheck(buf.length)
    }
    buf
  }

  override def merge(a: ArrayBuffer[(Long, Double)], b: ArrayBuffer[(Long, Double)]): ArrayBuffer[(Long, Double)] = {
    a ++= b
    capCheck(a.length)
    a
  }

  override def eval(buf: ArrayBuffer[(Long, Double)]): Any =
    if (buf.isEmpty) null
    else {
      val sorted = buf.sortBy(_._1)
      val out    = new Array[Any](sorted.length)
      var y      = sorted.head._2
      var i      = 0
      while (i < sorted.length) {
        if (i > 0) y = alpha * sorted(i)._2 + (1 - alpha) * y
        out(i) = InternalRow(sorted(i)._1, sorted(i)._2, y)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

  override def serialize(buf: ArrayBuffer[(Long, Double)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (t, v) => out.writeLong(t); out.writeDouble(v) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Double)] = {
    val in  = new DataInputStream(new ByteArrayInputStream(bytes))
    val n   = in.readInt()
    val buf = new ArrayBuffer[(Long, Double)](n)
    var i   = 0
    while (i < n) { buf += ((in.readLong(), in.readDouble())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EmaSeriesAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EmaSeriesAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): EmaSeriesAggregate =
    copy(tsChild = newChildren(0), valueChild = newChildren(1))
}

object EmaAggregate {
  val MaxBufferRowsKey = "graft.ema.maxBufferRows"

  /** 10M (ts, value) pairs ≈ 160 MB per group — far past any sane
    * per-key series, well under executor OOM territory.
    */
  val DefaultMaxBufferRows: Int = 10000000

  /** Conf-driven cap, read driver-side at expression build. */
  def confMaxBufferRows: Int =
    graft.operators.Guards.numericConf(MaxBufferRowsKey, org.apache.spark.sql.internal.SQLConf.get
      .getConfString(MaxBufferRowsKey, DefaultMaxBufferRows.toString))(_.toInt)
}
