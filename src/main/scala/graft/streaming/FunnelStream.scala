package graft.streaming

import graft.operators.Funnel
import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Live funnel maintenance — the streaming twin of
  * [[graft.operators.Funnel.funnel]]: per-stage conversion kept
  * current as events arrive.
  *
  * Why it streams exactly: with TIME-ordered slices, each user's
  * stage minima are monotone — t1 is fixed the moment the first view
  * arrives (later events have larger ts), a click can only qualify
  * (ts ≥ t1) in the first-view batch or later, so evaluating each
  * batch against carried state reproduces the one-shot qualification
  * of every event. The state is the per-user ARGMIN EVENT ROWS
  * themselves (first view, first qualifying click, first qualifying
  * purchase — ≤ 3 rows per converting user): a non-chosen event can
  * never become a stage minimum later, so carrying only the chosen
  * rows is lossless, and each trigger simply reruns the batch
  * operator's chained-window core over state ∪ batch, committed
  * through [[Slices.commit]]; the final drain reuses the BATCH oracle
  * verbatim. At 100 TB/day the state is ≤ 3 rows per user —
  * user-count-bounded like the [[MarkovStream]] carry-in, never
  * throughput-bounded.
  */
object FunnelStream {

  // --------------------------------------------------------------- #79
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select("user_id", "event_type", "ts_ms", "value")
    val srcDir = Slices.stage(ev, "funnel", 3)
    val root = graft.util.Fs.scratch("funnel_store")
    def staged(u: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
      u.withColumn("t1", min(when(col("event_type") === "view", col("ts_ms"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" &&
          col("value") > 120.0 && col("ts_ms") >= col("t1"), col("ts_ms"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" &&
          col("value") > 150.0 && col("ts_ms") >= col("t2"), col("ts_ms"))).over(w))
    }
    Slices.drainInto(spark, srcDir, ev.schema, root) { (batch, snap) =>
      val st = staged(snap.read("state", ev.schema).unionByName(batch.localCheckpoint()))
      // keep only the argmin event rows — the lossless funnel state
      Seq(ManifestStore.replaceTableOp("state", "", () => st.where(
          (col("event_type") === "view" && col("ts_ms") === col("t1")) ||
          (col("event_type") === "click" && col("value") > 120.0 &&
            col("ts_ms") === col("t2")) ||
          (col("event_type") === "purchase" && col("value") > 150.0 &&
            col("ts_ms") === col("t3")))
        .select("user_id", "event_type", "ts_ms", "value")))
    }
    // drain: the batch operator's roll-up over the argmin state rows
    val perUser = staged(ManifestStore.readTable(spark, root, "state", ev.schema))
      .groupBy("user_id")
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
    perUser.agg(
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click_after_view"),
        count(col("t3")).as("n_purchase_after_click"))
      .select(col("n_view"), col("n_click_after_view"),
        col("n_purchase_after_click"),
        graft.funcs.r6(col("n_click_after_view").cast("double") / col("n_view")).as("conv_click"),
        graft.funcs.r6(col("n_purchase_after_click").cast("double") / col("n_view")).as("conv_purchase"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_funnel" -> (streamFunnel _))

  val oracles: Map[String, String] = Map(
    // monotone stage minima over time-ordered slices ≡ one-shot funnel
    "stream_funnel" -> Funnel.funnelOracle)
}
