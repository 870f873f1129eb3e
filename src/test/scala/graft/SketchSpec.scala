package graft

import org.apache.spark.sql.functions._

/** Accuracy bounds for the approximate companions of the exact
  * operators — the 100 TB path for arbitrary-slice rollups where the
  * exact forms either shuffle whole groups (percentile) or hold
  * per-group hash sets (countDistinct). Both partial-aggregate
  * map-side with bounded sketch state. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("approx_percentile tracks exact percentile within the accuracy budget") {
    val rows = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.5)).as("exact"),
        expr("approx_percentile(value, 0.5, 1000)").as("approx"),
        (max("value") - min("value")).as("range"))
      .select("exact", "approx", "range")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (e, a, r) =>
      assert(math.abs(e - a) <= 0.02 * r, s"exact=$e approx=$a range=$r")
    }
  }

  test("ivfpq recall against exhaustive ADC is nontrivial") {
    // IVFADC searches nprobe/K of the corpus; its top-5 must still
    // overlap the exhaustive-ADC top-5 substantially — the candidate
    // pruning may only lose neighbors whose cell the probe skipped
    val exhaustive = graft.similarity.Embeddings.annPqTopK(spark, sfDir)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = graft.similarity.Embeddings.annIvfPqTopK(spark, sfDir)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exhaustive & pruned).size.toDouble / exhaustive.size
    // random cells would give ~nprobe/K = 0.25; the synthetic corpus
    // is near-uniform (distances concentrate) so the measured 0.40 is
    // the data's ceiling, not the operator's — bound strictly above
    // the random baseline
    assert(recall >= 0.3, s"ivfpq recall vs exhaustive ADC = $recall")
  }

  test("approx_count_distinct tracks the exact distinct count within rsd") {
    val rows = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select("exact", "approx")
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (e, a) =>
      assert(math.abs(e - a) <= math.max(2.0, 0.15 * e), s"exact=$e approx=$a")
    }
  }
}
