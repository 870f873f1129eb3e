package graft.streaming

import graft.operators.Skyline
import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental skyline maintenance — the streaming twin of
  * [[graft.operators.Skyline]]: the pareto frontier kept current as
  * catalog rows arrive (the live "best offers" board).
  *
  * The algebra that makes it stream: skyline(A ∪ B) =
  * skyline(skyline(A) ∪ B) — dominance is transitive, so a point
  * dominated by a non-skyline point is also dominated by that point's
  * dominator, and discarding dominated points early never changes the
  * final frontier. The state is therefore ONLY the current frontier
  * (result-sized — for a 2-D skyline, at most one point per distinct
  * frontier price), each batch runs the batch operator's prefix-max
  * core over frontier ∪ batch, committed through [[Slices.commit]].
  * Batch order is irrelevant (set-union commutes), so the slices are
  * the partkey residues mod 3; trigger-at-a-time ≡ one-shot and the
  * BATCH oracle carries over verbatim. At 100 TB the
  * arriving batch dominates the cost and the frontier rides along as
  * a tiny union — the stream never rescans history.
  */
object SkylineStream {

  // --------------------------------------------------------------- #76
  def streamSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").as("size"))
    val srcDir = Slices.stage(p, pmod(col("p_partkey"), lit(3)), 3,
      graft.util.Fs.scratch("sky_src"))
    val root = graft.util.Fs.scratch("sky_store")
    Slices.drainInto(spark, srcDir, p.schema, root) { (batch, snap) =>
      Seq(ManifestStore.replaceTableOp("frontier", "", () =>
        Skyline.skylineOf(snap.read("frontier", p.schema).unionByName(batch))))
    }
    ManifestStore.readTable(spark, root, "frontier", p.schema)
      .select(col("p_partkey"), col("price").as("p_retailprice"),
        col("size").as("p_size"))
      .orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_skyline" -> (streamSkyline _))

  val oracles: Map[String, String] = Map(
    // skyline(skyline(A) ∪ B) = skyline(A ∪ B) → batch oracle verbatim
    "stream_skyline" -> Skyline.skylineOracle)
}
