package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.DoubleType

/** Whole-operator custom plan: global as-of join of an arbitrarily
  * large left stream against a SMALL global right stream (a market
  * quote/benchmark series) — the case the per-key composed as-of
  * (TimeSeries.asOfJoin) cannot express without collapsing the left
  * side into one global sort partition.
  *
  * Physical strategy: collect + sort the quote side once (it is
  * small by premise — a single instrument's series), broadcast the
  * sorted (ts, value) arrays, and binary-search per left row inside
  * each partition. The left side keeps its partitioning — zero
  * shuffle, O(log q) per row, exactly how production engines run
  * broadcast as-of joins.
  */
case class BroadcastAsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftTs: Attribute,
    rightTs: Attribute,
    rightVal: Attribute,
    // constructor parameter so the exprId survives plan copies made
    // by the analyzer/optimizer (a fresh val would re-mint it)
    asofAttr: AttributeReference
) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ asofAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofAttr)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastAsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class BroadcastAsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftTs: Attribute,
    rightTs: Attribute,
    rightVal: Attribute,
    output: Seq[Attribute]
) extends BinaryExecNode {

  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val rTsOrd  = right.output.indexWhere(_.exprId == rightTs.exprId)
    val rValOrd = right.output.indexWhere(_.exprId == rightVal.exprId)
    // fail-fast guard on the broadcast premise: executeTake stops
    // scanning at cap+1 rows, so an oversized quote side errors with
    // a clear message instead of silently exhausting driver memory
    val cap = BroadcastAsOfJoinExec.maxRightRows
    val collected = right.executeTake(cap + 1)
    if (collected.length > cap)
      throw new IllegalStateException(
        s"BroadcastAsOfJoin right side exceeds $cap rows " +
          s"(${BroadcastAsOfJoinExec.MaxRowsKey}): it is not a small global series — " +
          "use TimeSeries.asOfJoin (partitioned) instead")
    val quotes = collected
      .map(r => (r.getLong(rTsOrd), r.getDouble(rValOrd)))
      .sortBy(_._1)
    val qTs  = quotes.map(_._1)
    val qVal = quotes.map(_._2)
    val bcTs  = sparkContext.broadcast(qTs)
    val bcVal = sparkContext.broadcast(qVal)
    val lTsOrd     = left.output.indexWhere(_.exprId == leftTs.exprId)
    val leftOutput = left.output

    left.execute().mapPartitions { iter =>
      val ts      = bcTs.value
      val vs      = bcVal.value
      val valRow  = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined  = new JoinedRow
      val project = UnsafeProjection.create(output, leftOutput :+ output.last)
      // rightmost quote index with ts <= t, or -1
      def search(t: Long): Int = {
        var lo = 0; var hi = ts.length - 1; var res = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (ts(mid) <= t) { res = mid; lo = mid + 1 } else hi = mid - 1
        }
        res
      }
      iter.map { row =>
        if (row.isNullAt(lTsOrd)) valRow.update(0, null)
        else {
          val i = search(row.getLong(lTsOrd))
          if (i < 0) valRow.update(0, null) else valRow.setDouble(0, vs(i))
        }
        project(joined(row, valRow))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object BroadcastAsOfJoinExec {
  val MaxRowsKey = "graft.asof.broadcast.maxRows"

  /** Driver-side row cap for the collected quote series (default
    * 5M ~ a century of second bars; ~80 MB of (long, double) pairs).
    */
  def maxRightRows: Int =
    graft.operators.Guards.numericConf(MaxRowsKey, org.apache.spark.sql.internal.SQLConf.get
      .getConfString(MaxRowsKey, "5000000"))(_.toInt)
}

object AsOfJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: BroadcastAsOfJoin =>
      BroadcastAsOfJoinExec(planLater(j.left), planLater(j.right), j.leftTs, j.rightTs, j.rightVal, j.output) :: Nil
    case _ => Nil
  }
}

object AsOfJoinApi {
  /** trades ASOF-LEFT-JOIN quotes on quotes.ts <= trades.ts, quote
    * `valCol` appended as `outName`.
    */
  def globalAsOfJoin(
      trades: DataFrame,
      quotes: DataFrame,
      tradesTsCol: String,
      quotesTsCol: String,
      quotesValCol: String,
      outName: String = "asof_val"
  ): DataFrame = {
    val spark = trades.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = trades.queryExecution.analyzed
    val rPlan = quotes.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${p.output.map(_.name)}"))
    // Re-alias the right side through fresh exprIds: trades and
    // quotes often share lineage (self-join), and duplicate ids
    // would make this node's right-side references ambiguous (and
    // column pruning would then empty the quote subtree).
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val rTsAlias  = Alias(attr(rPlan, quotesTsCol), "__asof_rts")()
    val rValAlias = Alias(attr(rPlan, quotesValCol), "__asof_rval")()
    val rDeduped  = Project(Seq(rTsAlias, rValAlias), rPlan)
    // ts attributes arrive as TimestampType (micros long internally)
    val plan = BroadcastAsOfJoin(
      lPlan, rDeduped, attr(lPlan, tradesTsCol), rTsAlias.toAttribute, rValAlias.toAttribute,
      AttributeReference(outName, DoubleType, nullable = true)())
    org.apache.spark.sql.graftshim.GraftShim.ofRows(spark, plan)
  }
}
