package graft.streaming

import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Live two-level threshold watch — the streaming twin of
  * [[graft.operators.Sessions.thresholdBand]]: the Schmitt-trigger
  * alarm (activate < lo, release > hi, hold in the band;
  * types.ts:210-245 ThresholdConfig, commands.ts level triggers) run
  * the way a vessel actually runs it — continuously over arriving
  * data, emitting each transition once as it happens.
  *
  * Shape — the [[MarkovStream]] seam pattern: the band state machine
  * is a running last-non-null over (per-user) time order, and the one
  * thing a time-sliced stream can't compute per batch is the seam —
  * the state a user carried OUT of the previous trigger, which decides
  * whether the batch's first decisive value is a transition. So the
  * state is exactly a per-user CURRENT-STATE store (one int per user,
  * the `streamLastTimestamps` idea), unioned into each batch as a
  * carry-in row that sorts strictly first (ts = −1 against real epoch
  * timestamps) and is decisive AT the carried state; the batch then
  * reruns the batch operator's window core and appends its transitions
  * to a result table in the state's own commit. Carried state makes
  * trigger-at-a-time ≡ one-shot (the carry row reproduces exactly the
  * prefix's last-non-null), so the drained transition log is
  * bit-identical to the batch operator and the 16b oracle carries
  * verbatim (BandStreamSpec pins both, plus a constructed
  * cross-trigger activation/release seam). At 100 TB/day the state is
  * user-count-sized and each trigger's work is batch-sized — history
  * is never rescanned.
  */
object BandStream {

  // --------------------------------------------------------------- #78
  def streamThresholdBand(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = (50.0, 150.0)
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .select("user_id", "ts_ms", "event_id", "value")
    val stateSchema = ev.select(col("user_id"), col("event_id").as("cur_state")).schema
    val transSchema = ev.select(col("user_id"), col("ts_ms"),
      lit("").as("transition"), col("value")).schema
    val srcDir = Slices.stage(ev, "band", 3)
    val root = graft.util.Fs.scratch("band_store")
    Slices.drainInto(spark, srcDir, ev.schema, root) { (batch, snap) =>
      // carry-in: one pseudo-row per known user, sorting strictly
      // first (ts −1 < any epoch ts) and decisive AT the carried
      // state — the batch's first real row lags against it
      val carry = snap.read("state", stateSchema)
        .select(col("user_id"), lit(-1L).as("ts_ms"), lit(-1L).as("event_id"),
          lit(null).cast("double").as("value"), col("cur_state").as("decisive"))
      val u = batch.localCheckpoint()
        .withColumn("decisive",
          when(col("value") < lo, 1).when(col("value") > hi, 0))
        .unionByName(carry)
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = u
        .withColumn("state", coalesce(last("decisive", ignoreNulls = true).over(wp), lit(0)))
        .withColumn("prev_state", coalesce(lag("state", 1).over(w), lit(0)))
        .localCheckpoint()
      Seq(
        // a carry row is never itself a transition (its change was
        // emitted by the trigger that produced it)
        ManifestStore.appendOp("trans", "", () => Nil, () =>
          st.where(col("ts_ms") >= 0 && col("state") =!= col("prev_state"))
            .select(col("user_id"), col("ts_ms"),
              when(col("state") === 1, "activated").otherwise("deactivated").as("transition"),
              col("value"))),
        // new per-user state = the last row's running state
        ManifestStore.replaceTableOp("state", "", () => st
          .groupBy("user_id")
          .agg(max_by(col("state"), struct(col("ts_ms"), col("event_id"))).as("cur_state"))))
    }
    ManifestStore.readTable(spark, root, "trans", transSchema)
      .orderBy("user_id", "ts_ms")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_threshold_band" -> (streamThresholdBand _))

  val oracles: Map[String, String] = Map(
    // carried state makes trigger-at-a-time ≡ one-shot, so the batch
    // Schmitt oracle carries verbatim
    "stream_threshold_band" -> graft.operators.Sessions.thresholdBandOracle)
}
