package graft.streaming

import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Live transition-matrix maintenance — the streaming twin of
  * [[graft.operators.Markov.transitionMatrix]]: the empirical
  * P(to|from) kept current as events arrive, the way a live anomaly
  * scorer consumes it (reference analog: the command state machine
  * watched continuously, commands.ts, generalized to data).
  *
  * Shape: per-user LAG is the one window a time-sliced stream CAN'T
  * compute per batch — the first event of a batch pairs with the last
  * event of the PREVIOUS batch. So the state is exactly that seam: a
  * per-user LAST-EVENT store (one row per user — the
  * `streamLastTimestamps` idea from historical-streaming.ts:693
  * applied per key) unioned into each batch as a carry-in before the
  * batch's own LAG window, plus an O(types²) transition-count store
  * the per-batch pair counts ADD into (integer adds — associative, so
  * trigger-at-a-time ≡ one-shot over the concatenated slices and the
  * BATCH oracle carries over verbatim). Both stores commit together
  * per trigger ([[Slices.commit]]). At 100 TB/day the
  * carry-in store is user-count-sized and the count store stays
  * types², independent of throughput — the corpus is never rescanned.
  *
  * Slices are consecutive archive-TIME ranges (one file per trigger
  * via [[Slices.stage]], keeping event_id for the deterministic
  * same-ms tiebreak), so each user's carry-in always sorts strictly
  * before the batch's own rows.
  */
object MarkovStream {

  // --------------------------------------------------------------- #74
  def streamTransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select("user_id", "ts_ms", "event_id", "event_type")
    val countSchema = ev.select(col("event_type").as("from_type"),
      col("event_type").as("to_type"), col("event_id").as("n")).schema
    val srcDir = Slices.stage(ev, "markov", 3)
    val root = graft.util.Fs.scratch("markov_store")
    Slices.drainInto(spark, srcDir, ev.schema, root) { (batch, snap) =>
      // carry-in rows sort strictly first per user (slice time
      // ranges are disjoint), so their own lag stays null and the
      // batch's first event pairs with them — the cross-trigger seam
      val u = snap.read("last", ev.schema).unionByName(batch.localCheckpoint())
      val ww = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      val pairs = u.withColumn("from_type", lag(col("event_type"), 1).over(ww))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      Seq(
        ManifestStore.replaceTableOp("counts", "", () =>
          snap.read("counts", countSchema).unionByName(pairs)
            .groupBy("from_type", "to_type").agg(sum("n").as("n"))),
        ManifestStore.replaceTableOp("last", "", () => u
          .groupBy("user_id")
          .agg(max_by(struct(col("ts_ms"), col("event_id"), col("event_type")),
            struct(col("ts_ms"), col("event_id"))).as("m"))
          .select(col("user_id"), col("m.ts_ms"), col("m.event_id"), col("m.event_type"))))
    }
    val perFrom = Window.partitionBy("from_type")
    ManifestStore.readTable(spark, root, "counts", countSchema)
      .withColumn("p", graft.funcs.r6(col("n") / sum(col("n")).over(perFrom)))
      .orderBy("from_type", "to_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_transition_matrix" -> (streamTransitionMatrix _))

  val oracles: Map[String, String] = Map(
    // integer count adds are associative over the time-sliced
    // partition of the corpus, so the batch oracle carries verbatim
    "stream_transition_matrix" -> graft.operators.Markov.transitionMatrixOracle)
}
