package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, ExprId, Expression, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.LogicalRDD

/** One narrow private-API bridge, kept in Spark's package namespace
  * because `Dataset.ofRows` is private[sql]: replace an eager
  * localCheckpoint's INHERITED plan statistics with the checkpoint's
  * MEASURED storage size.
  *
  * Why this must exist: `Dataset.localCheckpoint(eager = true)`
  * snapshots the origin plan's estimated statistics into the new
  * `LogicalRDD` (`LogicalRDD.fromDataset`). Size-only estimation
  * multiplies child sizes across joins, so a convergence loop whose
  * round body holds ~3 joins over the previous round's checkpoint
  * compounds sizeInBytes by ~x8 PER ROUND — after r rounds the
  * statistic is a BigInt of ~2^(3r) bits, and the driver burns
  * minutes in BigInteger.multiply inside stats estimation while
  * planning (observed: the 600-node-ring SCC test hung; every loop
  * past ~12 rounds pays the same ramp). The ACTUAL materialized
  * size is known the moment the eager checkpoint finishes — the
  * BlockManager measured it — so swapping the inherited estimate
  * for the measured one both kills the exponential ramp and gives
  * the planner TRUTH instead of a product of guesses (a node-sized
  * label table keeps auto-broadcasting because its real few-KB size
  * is now in the plan, not a 2^300 artifact).
  *
  * Used by graft.Loop (every convergence-loop round checkpoint
  * routes through it). Anything not shaped like a bare checkpoint
  * (analyzed plan != LogicalRDD) or not yet measured in storage is
  * returned unchanged — the bridge can only improve statistics,
  * never invent them.
  */
object GraftPlanStats {
  /** Dev introspection: a checkpoint's carried physical layout (the
    * partitioning/ordering a LogicalRDD will hand the next round's
    * planner). Lives here because LogicalRDD is private[sql].
    */
  def describeCk(df: DataFrame): String =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        s"partitioning=${lr.outputPartitioning} " +
          s"ordering=${lr.outputOrdering} nparts=${lr.rdd.getNumPartitions}"
      case other => s"not a LogicalRDD: ${other.getClass.getSimpleName}"
    }


  def withMeasuredStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[CSparkSession]
        val measured = session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(info => math.max(info.memSize + info.diskSize, 1L))
        measured match {
          case Some(bytes) =>
            // constraints: thread the checkpoint's own set through
            // rather than dropping it — `lr.constraints` is the
            // already-rewritten (this-output-attributed) form of the
            // origin plan's constraint set, so downstream optimizer
            // constraint propagation (IsNotNull inference, filter
            // pruning) keeps working on the stats-swapped copy
            val clean = new MeasuredCheckpoint(lr.output, lr.rdd,
              lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
              lr.stream)(session,
              Some(Statistics(sizeInBytes = BigInt(bytes))),
              Some(lr.constraints))
            CDataset.ofRows(session, clean)
          case None => df
        }
      case _ => df
    }
}

/** A measured checkpoint relation: a `LogicalRDD` whose canonical form
  * binds its carried layout (hash partitioning, sort order) to its
  * own output by position. Spark's default leaf canonicalization
  * normalizes the output attributes but leaves the layout's attribute
  * ids raw, so two fresh copies of one laid-out checkpoint — the copy
  * the analyzer makes when a round reads the state twice (PageRank's
  * rank vector feeds both the contribution join and the old-rank
  * side) — never compare `sameResult`, and a SQL text analyzed
  * separately from its DataFrame twin could not be pinned plan-equal.
  * Everything else is the plain `LogicalRDD`.
  */
private[sql] class MeasuredCheckpoint(output: Seq[Attribute],
    rdd: RDD[InternalRow], outputPartitioning: Partitioning,
    outputOrdering: Seq[SortOrder], isStreaming: Boolean,
    stream: Option[SparkDataStream])(session: CSparkSession,
    originStats: Option[Statistics], originConstraints: Option[ExpressionSet])
  extends LogicalRDD(output, rdd, outputPartitioning, outputOrdering,
    isStreaming, stream)(session, originStats, originConstraints) {

  // LogicalRDD.newInstance builds a plain LogicalRDD; keep the class
  override def newInstance(): this.type = {
    val fresh = AttributeMap(output.map(a => a -> a.newInstance()))
    def re[T <: Expression](e: T): T =
      e.transform { case a: Attribute => fresh.getOrElse(a, a) }.asInstanceOf[T]
    val part = outputPartitioning match {
      case p: Expression => re(p).asInstanceOf[Partitioning]
      case p => p
    }
    new MeasuredCheckpoint(output.map(fresh(_)), rdd, part,
      outputOrdering.map(re(_)), isStreaming, stream)(session,
      Some(Statistics(sizeInBytes = computeStats().sizeInBytes)),
      Some(ExpressionSet(constraints.map(re(_))))).asInstanceOf[this.type]
  }

  override protected def doCanonicalize(): LogicalPlan =
    LogicalRDD(
      output.zipWithIndex.map { case (a, i) =>
        a.withExprId(ExprId(i.toLong)).canonicalized.asInstanceOf[Attribute]
      },
      rdd,
      outputPartitioning match {
        case p: Expression =>
          QueryPlan.normalizeExpressions(p, output).asInstanceOf[Partitioning]
        case p => p
      },
      outputOrdering.map(QueryPlan.normalizeExpressions(_, output)),
      isStreaming, stream)(session, None, None)
}
