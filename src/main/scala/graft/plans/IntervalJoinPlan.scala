package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Native interval-containment join — the second whole-operator
  * Catalyst extension (recipe proven by [[AsOfJoinPlan]]): points ⋈
  * intervals on a shared key with `start <= ts < end`, as ONE physical
  * operator instead of either the nested-loop plan Spark picks for the
  * raw non-equi predicate or the chunk-explode decomposition
  * ([[graft.operators.Intervals.intervalJoin]]).
  *
  * Physical shape: both sides hash-clustered on the key (one exchange
  * each), points sorted (key, ts), intervals sorted (key, start), then
  * a per-partition sweep: intervals whose start has passed enter an
  * active buffer; an interval is evicted the moment its end is at or
  * below the current point's ts (points arrive in ts order, so it can
  * never match again); every interval still buffered contains the
  * point — emitted with zero comparisons beyond the buffer walk.
  * O(points + intervals + matches) per partition, memory bounded by
  * the maximum number of concurrently open intervals per key — the
  * natural measure of the workload, not its size.
  *
  * Versus the chunk decomposition: no explode fanout tuning, no
  * chunk-width/selectivity trade-off, and no candidate filtering — the
  * sweep never inspects a (point, interval) pair it does not emit.
  */
case class IntervalJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightStart: Expression, rightEnd: Expression,
    outStart: AttributeReference, outEnd: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outStart :+ outEnd
  // the interval bounds are born here, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(outStart :: outEnd :: Nil)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[IntervalJoin]] as [[IntervalJoinExec]]; listed in
  * [[graft.functions.Native]], which installs it. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoin(l, r, lk, rk, lts, rs, re, os, oe) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lts, rs, re, os, oe) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightStart: Expression, rightEnd: Expression,
    outStart: AttributeReference, outEnd: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outStart :+ outEnd
  override def producedAttributes: AttributeSet = AttributeSet(outStart :: outEnd :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightStart, Ascending)))

  // the point side streams through in order; each input row may emit
  // 0..n output rows but never out of order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lts = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rs = BindReferences.bindReference(rightStart, right.output)
    val re = BindReferences.bindReference(rightEnd, right.output)
    val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftKey.dataType)
    val tsOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftTs.dataType)
    // only serializable values enter the task closure; projections are
    // built per partition (UnsafeProjection is not serializable)
    val outSeq = output
    val inSeq = left.output :+ outStart :+ outEnd
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (points, intervals) =>
        val resultProj = UnsafeProjection.create(outSeq, inSeq)
        val joined = new JoinedRow
        val boundsRow = new GenericInternalRow(2)
        // active intervals of the CURRENT key, as copied (start, end)
        // values — the interval row buffer is reused by the scanner
        val active = new scala.collection.mutable.ArrayBuffer[(Any, Any)]()
        var activeKey: Any = null
        var iv: InternalRow = if (intervals.hasNext) intervals.next() else null
        points.flatMap { p =>
          val pk = lk.eval(p)
          val pts = lts.eval(p)
          if (pk == null || pts == null) Iterator.empty
          else {
            if (activeKey == null || keyOrd.compare(activeKey, pk) != 0) {
              active.clear()
              activeKey = InternalRow.copyValue(pk)
            }
            // pull every interval of this key whose start has passed
            var pulling = true
            while (pulling && iv != null) {
              val ik = rk.eval(iv)
              val c = if (ik == null) -1 else keyOrd.compare(ik, pk)
              if (c < 0) iv = if (intervals.hasNext) intervals.next() else null
              else {
                val s = rs.eval(iv)
                if (s == null) iv = if (intervals.hasNext) intervals.next() else null
                else if (c == 0 && tsOrd.compare(s, pts) <= 0) {
                  val e = re.eval(iv)
                  // an interval already over never buffers
                  if (e != null && tsOrd.compare(e, pts) > 0)
                    active += ((InternalRow.copyValue(s), InternalRow.copyValue(e)))
                  iv = if (intervals.hasNext) intervals.next() else null
                } else pulling = false
              }
            }
            // evict intervals that ended at or before this point: points
            // come in ts order, so they can never match again
            var i = 0
            while (i < active.length) {
              if (tsOrd.compare(active(i)._2, pts) <= 0) active.remove(i) else i += 1
            }
            // everything still active contains the point
            active.toArray.iterator.map { case (s, e) =>
              boundsRow.update(0, s)
              boundsRow.update(1, e)
              resultProj(joined(p, boundsRow))
            }
          }
        }
    }
  }
}

/** DataFrame facade for the native interval join. */
object IntervalJoinNative {

  /** points ⋈ intervals on `key` with `start <= ts < end`; emits the
    * point row plus the containing interval's bounds as
    * (start_ms, end_ms). The interval side is re-aliased to fresh
    * attribute ids so shared-lineage (self) joins analyze cleanly. */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      key: String, ts: String, start: String, end: String): DataFrame = {
    val spark = points.sparkSession
    graft.functions.Native.register(spark)
    val l = points.queryExecution.analyzed
    val r0 = intervals.queryExecution.analyzed
    val aliases = r0.output.map(a => Alias(a, a.name)())
    val r = org.apache.spark.sql.catalyst.plans.logical.Project(aliases, r0)
    def la(n: String): Attribute = l.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"point side has no column $n"))
    def ra(n: String): Attribute = r.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"interval side has no column $n"))
    val os = AttributeReference("start_ms", ra(start).dataType, nullable = true)()
    val oe = AttributeReference("end_ms", ra(end).dataType, nullable = true)()
    GraftBridge.ofRows(spark,
      IntervalJoin(l, r, la(key), ra(key), la(ts), ra(start), ra(end), os, oe))
  }

  /** The same demo as sk_interval_join, through the native operator —
    * and the same oracle: error samples during completed click
    * episodes, counted and averaged per episode. */
  def skIntervalNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.funcs._
    import org.apache.spark.sql.functions._
    val episodes = graft.operators.Sessions.episodesUnsorted(spark, dir)
      .where(col("status") === "completed")
      .select(col("user_id"), col("start_ms").as("s_ms"), col("end_ms").as("e_ms"))
    val errors = graft.Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .select("user_id", "ts_ms", "value")
    intervalJoin(errors, episodes, "user_id", "ts_ms", "s_ms", "e_ms")
      .groupBy("user_id", "start_ms", "end_ms")
      .agg(count(lit(1)).as("n_points"), r6(davg(col("value"))).as("value_avg"))
      .orderBy("user_id", "start_ms")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_interval_native" -> (skIntervalNative _))

  val oracles: Map[String, String] = Map(
    "sk_interval_native" -> graft.operators.Intervals.intervalJoinOracle)
}
