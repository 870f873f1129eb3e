package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Native as-of join — a whole-operator Catalyst extension: custom
  * LogicalPlan node + SparkStrategy + SparkPlan, the (c) tier of the
  * build plan's preference order (SURVEY §4), for the one reference
  * semantics Spark has no single operator for ("latest quote at or
  * before each probe", HistoryAPI.ts last-known fallback).
  *
  * The composed alternative ([[graft.operators.AsOf.asOfJoin]]) unions
  * probes and quotes and runs an ordered LOCF window; this node
  * expresses the same semantics as ONE physical operator: both sides
  * hash-clustered on the key (one exchange each — exactly what the
  * union pays), sorted (key, ts), then a streaming two-pointer merge
  * walk per partition — no window state, no union materialization, no
  * null-column padding, and the probe side streams through untouched.
  * At 100 TB the shape is identical to a sort-merge join's: shuffle on
  * the series key, sequential scans within partitions.
  *
  * Tie semantics match the composed operator and DuckDB's ASOF JOIN:
  * a quote AT the probe's timestamp is visible; among equal-ts quotes
  * the greatest `tie` column (e.g. event id) wins — the sort order
  * makes the dedup fall out of the walk.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightVal: Expression, rightTie: Expression,
    outAttr: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outAttr
  // asof_value is born here, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; listed in
  * [[graft.functions.Native]], which installs it. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, rv, rt, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rv, rt, out) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightVal: Expression, rightTie: Expression,
    outAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)

  // One exchange per side, co-clustered on the key; EnsureRequirements
  // aligns the two shuffles (and AQE coalesces them uniformly), so
  // doExecute's zipPartitions sees aligned key ranges.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  // (key, ts) per side; the quote tiebreak makes equal-ts picks total.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTie, Ascending)))

  // probes stream through: partitioning and ordering survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lts = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rts = BindReferences.bindReference(rightTs, right.output)
    val rv = BindReferences.bindReference(rightVal, right.output)
    val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftKey.dataType)
    val tsOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftTs.dataType)
    // only serializable expression/attribute values may enter the task
    // closure; the (non-serializable) UnsafeProjection is built per
    // partition from them
    val outSeq = output
    val inSeq = left.output :+ outAttr
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (probes, quotes) =>
        val resultProj = UnsafeProjection.create(outSeq, inSeq)
        val joined = new JoinedRow
        val valRow = new GenericInternalRow(1)
        // held = latest visible quote's (key, value); keys/values are
        // copied out of the (reused) quote row buffer
        var heldKey: Any = null
        var heldVal: Any = null
        var q: InternalRow = if (quotes.hasNext) quotes.next() else null
        probes.map { p =>
          val pk = lk.eval(p)
          val pts = lts.eval(p)
          var advance = pk != null && pts != null
          while (advance && q != null) {
            val qk = rk.eval(q)
            val c = if (qk == null) -1 else keyOrd.compare(qk, pk)
            if (c < 0) q = if (quotes.hasNext) quotes.next() else null
            else if (c == 0 && tsOrd.compare(rts.eval(q), pts) <= 0) {
              heldKey = InternalRow.copyValue(qk)
              heldVal = InternalRow.copyValue(rv.eval(q))
              q = if (quotes.hasNext) quotes.next() else null
            } else advance = false
          }
          val visible = pk != null && heldKey != null && keyOrd.compare(heldKey, pk) == 0
          valRow.update(0, if (visible) heldVal else null)
          resultProj(joined(p, valRow))
        }
    }
  }
}

/** DataFrame facade for the native as-of join. */
object AsOfJoinNative {

  /** probes ⟕asof quotes on `key`, time column `ts`, emitting quotes'
    * `value` as `asof_value`; `tie` breaks equal-ts quote ties (max
    * wins). Both frames may share lineage (self-as-of): the quote side
    * is re-aliased to fresh attribute ids. */
  def asOfJoin(probes: DataFrame, quotes: DataFrame,
      key: String, ts: String, value: String, tie: String): DataFrame = {
    val spark = probes.sparkSession
    graft.functions.Native.register(spark)
    val l = probes.queryExecution.analyzed
    // fresh exprIds on the quote side — self-joins would otherwise
    // carry duplicate attribute ids across the two children
    val r0 = quotes.queryExecution.analyzed
    val aliases = r0.output.map(a => Alias(a, a.name)())
    val r = org.apache.spark.sql.catalyst.plans.logical.Project(aliases, r0)
    def la(n: String): Attribute = l.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"probe side has no column $n"))
    def ra(n: String): Attribute = r.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"quote side has no column $n"))
    val out = AttributeReference("asof_value", ra(value).dataType, nullable = true)()
    GraftBridge.ofRows(spark,
      AsOfJoin(l, r, la(key), ra(key), la(ts), ra(ts), ra(value), ra(tie), out))
  }

  /** The same demo query as sk_asof_join, through the native operator:
    * click probes against view quotes per user. Shares sk_asof_join's
    * oracle semantics (DuckDB ASOF LEFT JOIN). */
  def skAsOfNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    asOfJoin(
      ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_ms", "value"),
      ev.where(col("event_type") === "view")
        .select("user_id", "ts_ms", "value", "event_id"),
      "user_id", "ts_ms", "value", "event_id")
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_asof_native" -> (skAsOfNative _))

  val oracles: Map[String, String] = Map(
    "sk_asof_native" -> graft.operators.AsOf.asOfOracle)
}
