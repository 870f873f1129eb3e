package graft

import graft.similarity.{Embeddings, IndexRefresh, StoredIndex}
import graft.util.ManifestStore
import org.apache.spark.sql.functions._

/** Blue/green index rotation on the converged manifest primitive: a
  * rotation is ONE atomic publish replacing all four index tables, so
  * reads during a re-stage serve the OLD committed version across
  * centroids, codebook, lists AND codes; no rotation on an
  * in-distribution window; and the rotated index ≡ a fresh build on
  * the drifted window. */
class IndexRefreshSpec extends SparkSpec {

  test("a crash mid-rotation leaves the OLD version serving across all four tables; the re-run's marker is the swap") {
    graft.functions.Native.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_bg_spec").toString
    val orig = Embeddings.vecs(spark, sfDir)
    val probes = orig.where(col("vec_id") < 5)
    StoredIndex.publish(spark, root, orig)
    assert(ManifestStore.committedVersion(spark, root) == 1)
    val before = StoredIndex.searchProbes(spark, root, probes)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    val centsBefore = ManifestStore.readTable(spark, root, "centroids",
      StoredIndex.centroidsSchema).collect().map(_.toString).toSet
    // re-stage the drifted v2, crashing AFTER its files are written
    // but BEFORE the manifest commit: v2 files are on disk, but every
    // read must keep resolving — and bit-reproducing — v1, INCLUDING
    // the retrained quantizers (the cross-table torn read a
    // two-protocol design risked: new centroids over old codes)
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] {
      StoredIndex.publish(spark, root,
        IndexRefresh.driftedVecs(spark, sfDir))
    }
    ManifestStore.crashPoint = None
    assert(ManifestStore.committedVersion(spark, root) == 1)
    val during = StoredIndex.searchProbes(spark, root, probes)
      .collect().map(_.toString).toSeq
    assert(during == before, "a mid-re-stage read saw the uncommitted store")
    assert(ManifestStore.readTable(spark, root, "centroids",
      StoredIndex.centroidsSchema).collect().map(_.toString).toSet == centsBefore,
      "a mid-re-stage read saw retrained quantizers")
    // the re-run rotation completes; its marker IS the swap
    StoredIndex.publish(spark, root,
      IndexRefresh.driftedVecs(spark, sfDir))
    assert(ManifestStore.committedVersion(spark, root) == 2)
    val driftedProbes = IndexRefresh.driftedVecs(spark, sfDir)
      .where(col("vec_id") < 5)
    val after = StoredIndex.searchProbes(spark, root, driftedProbes)
      .collect().map(_.toString).toSeq
    assert(after != before, "rotation was result-invisible on a drifted window")
  }

  test("the alarm gates the rotation: an in-distribution window does NOT rotate") {
    graft.functions.Native.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_bg_ctrl").toString
    StoredIndex.publish(spark, root, Embeddings.vecs(spark, sfDir))
    // shift 0 = the DriftMonitorSpec control (KL ≈ sampling noise)
    assert(IndexRefresh.refreshIfDrifted(spark, sfDir, root, 0.0) == 1,
      "in-distribution window rotated the index")
    assert(IndexRefresh.refreshIfDrifted(spark, sfDir, root, 0.5) == 2,
      "seeded drift did not rotate the index")
  }

  test("post-refresh search equals a FRESH one-shot build on the drifted window") {
    graft.functions.Native.register(spark)
    val refreshed = IndexRefresh.annIndexRefresh(spark, sfDir)
      .collect().map(_.toString).toSeq
    // fresh build: stage directly from the drifted corpus, search it
    val root = java.nio.file.Files.createTempDirectory("graft_bg_fresh").toString
    val drifted = IndexRefresh.driftedVecs(spark, sfDir)
    StoredIndex.publish(spark, root, drifted)
    val fresh = StoredIndex.searchProbes(spark, root,
      drifted.where(col("vec_id") < 5)).collect().map(_.toString).toSeq
    assert(refreshed.nonEmpty)
    assert(refreshed == fresh)
  }
}
