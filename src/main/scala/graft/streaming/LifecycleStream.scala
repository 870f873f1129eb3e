package graft.streaming

import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live automation lifecycle and multi-threshold watch — the streaming
  * twins of [[graft.operators.Sessions.automationLifecycle]] /
  * [[Sessions.multiThreshold]], closing the threshold family's live
  * surface ([[BandStream]] covers the single band).
  *
  * The generalization over [[BandStream]]'s single carried int is a
  * MULTI-QUANTITY carry: the lifecycle's per-user seam is THREE
  * running last-non-nulls (enabled = last toggle, last_val = watched
  * path's current value, state = last decisive), and the batch cores
  * take the carry as JOIN COLUMNS that replace the window defaults
  * (Sessions.lifecycleAnnotated / multiThresholdAnnotated) — no
  * pseudo-rows, so nothing needs excluding from emission and the
  * seam argument is one line: every window is a running last-non-null
  * and the carry IS its prefix value, so slice-at-a-time ≡ one-shot
  * and the batch oracles carry verbatim (LifecycleStreamSpec pins
  * bit-equality for both). Stores are user-count-sized (×k watchers
  * for the registry twin), committed per trigger through
  * [[Slices.commit]]; history is never rescanned.
  */
object LifecycleStream {

  // --------------------------------------------------------------- #80
  def streamAutomationLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sessions
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type").isin("error", "signup"))
      .select("user_id", "ts_ms", "event_id", "event_type", "value")
    val carrySchema = Sessions.emptyLifecycleCarry(spark).schema
    val transSchema = ev.select(col("user_id"), col("ts_ms"), lit("").as("transition"),
      lit("").as("trigger"), col("value")).schema
    val ord = struct(col("ts_ms"), col("event_id"))
    val root = graft.util.Fs.scratch("lifecycle_store")
    Slices.drainInto(spark, Slices.stage(ev, "lifecycle", 3), ev.schema, root) { (batch, snap) =>
      val carry = snap.read("carry", carrySchema)
      val ann = Sessions.lifecycleAnnotated(batch.localCheckpoint(), carry)
        .localCheckpoint()
      // new carry: the batch's last running values where present,
      // the old carry where the user was silent this trigger
      val lastRow = ann.groupBy("user_id").agg(
        max_by(col("enabled"), ord).as("n_enabled"),
        max_by(col("state"), ord).as("n_state"))
      val lastErr = ann.where(col("event_type") === "error")
        .groupBy("user_id")
        .agg(max_by(col("value"), ord).as("n_last_val"))
      Seq(
        ManifestStore.appendOp("trans", "", () => Nil, () => Sessions.lifecycleTransitions(ann)),
        ManifestStore.replaceTableOp("carry", "", () => carry
          .join(lastRow, Seq("user_id"), "full_outer")
          .join(lastErr, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            coalesce(col("n_enabled"), col("enabled0"), lit(0)).as("enabled0"),
            coalesce(col("n_last_val"), col("last_val0")).as("last_val0"),
            coalesce(col("n_state"), col("state0"), lit(0)).as("state0"))))
    }
    ManifestStore.readTable(spark, root, "trans", transSchema).orderBy("user_id", "ts_ms")
  }

  // --------------------------------------------------------------- #81
  def streamMultiThreshold(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sessions
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type") === "click")
      .select("user_id", "ts_ms", "event_id", "event_type", "value")
    val carrySchema = Sessions.emptyWatcherCarry(spark).schema
    val transSchema = ev.select(col("user_id"), lit("").as("watcher_id"), col("ts_ms"),
      lit("").as("transition"), col("value")).schema
    val ord = struct(col("ts_ms"), col("event_id"))
    val root = graft.util.Fs.scratch("multithr_store")
    Slices.drainInto(spark, Slices.stage(ev, "multithr", 3), ev.schema, root) { (batch, snap) =>
      val carry = snap.read("carry", carrySchema)
      val ann = Sessions.multiThresholdAnnotated(batch.localCheckpoint(), carry)
        .localCheckpoint()
      val lastRow = ann.groupBy("user_id", "watcher_id")
        .agg(max_by(col("state"), ord).as("n_state"))
      Seq(
        ManifestStore.appendOp("trans", "", () => Nil, () =>
          ann.where(col("state") =!= col("prev_state"))
            .select(col("user_id"), col("watcher_id"), col("ts_ms"),
              when(col("state") === 1, "activated").otherwise("deactivated").as("transition"),
              col("value"))),
        ManifestStore.replaceTableOp("carry", "", () => carry
          .join(lastRow, Seq("user_id", "watcher_id"), "full_outer")
          .select(col("user_id"), col("watcher_id"),
            coalesce(col("n_state"), col("state0"), lit(0)).as("state0"))))
    }
    ManifestStore.readTable(spark, root, "trans", transSchema)
      .orderBy("user_id", "watcher_id", "ts_ms")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_automation_lifecycle" -> (streamAutomationLifecycle _),
    "stream_multi_threshold" -> (streamMultiThreshold _))

  val oracles: Map[String, String] = Map(
    // carried prefix values make slice-at-a-time ≡ one-shot, so both
    // batch oracles carry verbatim
    "stream_automation_lifecycle" -> graft.operators.Sessions.automationLifecycleOracle,
    "stream_multi_threshold" -> graft.operators.Sessions.multiThresholdOracle)
}
