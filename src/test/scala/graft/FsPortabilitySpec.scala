package graft

import graft.sources.{Compaction, HiveStore, Migration}
import graft.util.Fs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** A local-backed filesystem registered under a NON-default scheme.
  * Everything behaves like RawLocalFileSystem except the URI — so any
  * maintenance code still holding a `FileSystem.getLocal` (whose
  * checkPath rejects `graftfs:` paths) or a raw `java.io` access (which
  * can't parse the scheme) fails loudly on these roots. This is the
  * cheapest faithful stand-in for the S3/HDFS deployment the reference's
  * cloud archive runs against (utils/cloud-endpoint.ts). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Proves the store/maintenance jobs are filesystem-agnostic: the full
  * compaction / retention / backup-sync / migration choreography runs
  * against `graftfs:` roots, i.e. every listing/rename/delete resolves
  * its filesystem FROM the path (graft.util.Fs) rather than assuming
  * local disk. */
class FsPortabilitySpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftfs.impl", classOf[GraftTestFs].getName)

  /** A scratch root addressed through the non-default scheme. */
  private def graftRoot(): String =
    "graftfs://" + Fs.scratch("hive_store_")

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def liveSlice(dir: String) = HiveStore.layout(Tables.events(spark, dir)
    .where(col("event_type") === "purchase" && col("user_id") < 3))

  test("graftfs scheme resolves to the test filesystem, not local") {
    val fs = fsOf("graftfs:///tmp/x")
    assert(fs.isInstanceOf[GraftTestFs], fs.getClass.getName)
    assert(fs.getUri.getScheme == "graftfs")
  }

  test("HiveStore.retentionSweep runs on a non-default scheme") {
    val root = graftRoot()
    HiveStore.write(liveSlice(sfDir), root)
    val fs = fsOf(root)
    assert(HiveStore.read(spark, root).count() > 0)
    // retention: 1-day retention at a far-future "now" deletes all days
    val deleted = HiveStore.retentionSweep(spark, root,
      Map("raw" -> 1), nowMs = 4102444800000L)
    assert(deleted.nonEmpty)
    assert(deleted.forall(_.startsWith("graftfs:")), deleted.take(3).mkString(","))
    assert(fs.globStatus(new Path(root, "tier=*/context=*/path=*/year=*/day=*")).isEmpty)
  }

  test("backupSync diffs and copies across schemes (local primary -> graftfs archive)") {
    val primary = Fs.scratch("hive_store_")
    val archive = graftRoot()
    HiveStore.write(liveSlice(sfDir), primary)
    val copied = HiveStore.backupSync(spark, primary, archive)
    assert(copied > 0)
    assert(HiveStore.read(spark, archive).count() ==
      HiveStore.read(spark, primary).count())
    // idempotent: second sync copies nothing (archive listed via graftfs)
    assert(HiveStore.backupSync(spark, primary, archive) == 0L)
  }

  test("Compaction.compactDays archives live graftfs days into a graftfs archive") {
    val live = graftRoot()
    val archive = graftRoot()
    HiveStore.write(liveSlice(sfDir), live)
    val before = HiveStore.read(spark, live).count()
    Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    assert(Compaction.archivedCutoff(spark, archive) == "016")
    val fs = fsOf(live)
    assert(fs.globStatus(new Path(live, "tier=*/context=*/path=*/year=*/day=*"))
      .forall(_.getPath.getName.stripPrefix("day=") >= "016"))
    assert(Compaction.compactedRead(spark, live, archive).count() == before)
  }

  test("AnnStream live IVFADC store drains, compacts and serves on a non-default scheme") {
    val e = Tables.embeddings(spark, sfDir)
    val srcDir = graftRoot() + "/src"
    e.repartitionByRange(2, col("vec_id")).write.parquet(srcDir)
    val base = graftRoot() + "/store"
    val ckpt = graftRoot() + "/ckpt"
    graft.streaming.AnnStream.bootstrap(spark, sfDir, base)
    graft.streaming.AnnStream.buildStore(spark, srcDir, e.schema,
      base, Some(ckpt))
    // the whole store tree lives behind graftfs:, not local file:
    assert(fsOf(base).isInstanceOf[GraftTestFs])
    assert(fsOf(base).exists(new Path(base + "/lists")))
    // the scheduled sweep's manifest publish runs on the same scheme
    graft.streaming.AnnStream.compactIndexStore(spark, base)
    val live = graft.similarity.StoredIndex.search(spark, sfDir, base).collect()
    val inline = graft.similarity.Embeddings.annIvfPqTopK(spark, sfDir).collect()
    assert(live.nonEmpty)
    assert(live.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("GraphStream live kNN-graph store drains and serves on a non-default scheme") {
    val e = Tables.embeddings(spark, sfDir)
    val srcDir = graftRoot() + "/src"
    e.repartitionByRange(2, col("vec_id")).write.parquet(srcDir)
    val base = graftRoot() + "/store"
    val ckpt = graftRoot() + "/ckpt"
    graft.streaming.GraphStream.buildStore(spark, sfDir, srcDir, e.schema,
      base, Some(ckpt))
    assert(fsOf(base).isInstanceOf[GraftTestFs])
    assert(fsOf(base).exists(new Path(base + "/topk")))
    val live = graft.similarity.KnnGraph
      .mutualEdges(graft.streaming.GraphStream.readTopk(spark, base))
      .orderBy("id_a", "id_b").collect()
    val inline = graft.similarity.KnnGraph.knnGraph(spark, sfDir).collect()
    assert(live.nonEmpty)
    assert(live.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("IndexRefresh blue/green rotation runs on a non-default scheme") {
    val root = graftRoot() + "/bluegreen"
    val out = graft.similarity.IndexRefresh
      .annIndexRefreshAt(spark, sfDir, root).collect()
    assert(out.nonEmpty)
    assert(fsOf(root).isInstanceOf[GraftTestFs])
    // the rotation committed v2 on the graftfs root (marker = the swap)
    assert(graft.util.ManifestStore.committedVersion(spark, root) == 2)
  }

  test("DeleteRepair touched-partition publishes run on a non-default scheme") {
    graft.functions.Native.register(spark)
    import graft.streaming.GraphStream
    import graft.util.ManifestStore
    val staged = graft.similarity.DeleteRepair.stageDirectedTopk(spark, sfDir)
    val base = graftRoot() + "/knn"
    ManifestStore.publishOps(spark, base, Seq(
      ManifestStore.replaceTableOp("topk", "label", () =>
        GraphStream.readTopk(spark, staged)
          .select("src_id", "dst_id", "cos", "rank", "label")),
      ManifestStore.replaceTableOp("vecs", "label", () =>
        graft.util.ManifestStore.readTable(spark, staged, "vecs", GraphStream.vecsSchema))))
    assert(fsOf(base).isInstanceOf[GraftTestFs])
    val delVecs = graft.similarity.Embeddings
      .vecsOf(Tables.embeddings(spark, sfDir))
      .where(pmod(col("vec_id"), lit(17L)) === 14L)
    graft.similarity.DeleteRepair.deleteFromGraph(spark, base, delVecs)
    val topk = GraphStream.readTopk(spark, base)
    assert(topk.where(pmod(col("src_id"), lit(17L)) === 14L).isEmpty)
    assert(topk.where(pmod(col("dst_id"), lit(17L)) === 14L).isEmpty)
    assert(topk.count() > 0)
  }

  test("Migration.migrate lands a flat store into a graftfs tiered target") {
    val flat = Fs.scratch("hive_store_")
    val target = graftRoot()
    Tables.events(spark, sfDir)
      .where(col("event_type") === "view" && col("user_id") < 3)
      .withColumn("context", concat(lit("vessels__urn-"), col("user_id")))
      .withColumn("path", col("event_type"))
      .write.mode("overwrite").partitionBy("context", "path").parquet(flat)
    val n = Migration.migrate(spark, flat, target)
    assert(n > 0)
    // idempotent re-run sees the graftfs target's partitions
    assert(Migration.migrate(spark, flat, target) == 0L)
  }
}
