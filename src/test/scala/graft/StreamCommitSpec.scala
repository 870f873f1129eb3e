package graft

import graft.streaming.{Slices, Streaming}
import graft.util.ManifestStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The trigger-to-store helper ([[Slices.commit]]): a trigger's tables
  * and its batch id commit in one ManifestStore publish, a re-delivered
  * batch id is skipped, and a crash on either side of the commit
  * restarts into the uncrashed answer. */
class StreamCommitSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_commitspec_$tag").toString

  private val sumSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", LongType)))

  /** A summing store: each trigger adds its per-key sums of `v`. */
  private def sumStep(batch: DataFrame, snap: ManifestStore.Snapshot): Seq[ManifestStore.TableOp] =
    Seq(ManifestStore.replaceTableOp("sums", "", () =>
      snap.read("sums", sumSchema)
        .unionByName(batch.groupBy("k").agg(sum("v").as("s")))
        .groupBy("k").agg(sum("s").as("s"))))

  private def sums(root: String): Seq[String] =
    ManifestStore.readTable(spark, root, "sums", sumSchema)
      .orderBy("k").collect().map(_.mkString("|")).toSeq

  private def events(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select((col("id") % 7).as("k"), col("id").as("v"),
      (col("id") * 1000L).as("ts_ms"))

  private def oneShot(df: DataFrame): Seq[String] =
    df.groupBy("k").agg(sum("v").as("s"))
      .orderBy("k").collect().map(_.mkString("|")).toSeq

  test("a re-delivered batch id commits once: the summing store equals a single delivery") {
    val (b0, b1) = (events(0, 100), events(100, 250))
    val once = tmp("once")
    Slices.commit(spark, once, 0)(sumStep(b0, _))
    val twice = tmp("twice")
    Slices.commit(spark, twice, 0)(sumStep(b0, _))
    Slices.commit(spark, twice, 0)(sumStep(b0, _)) // the re-delivery
    assert(sums(twice) == sums(once))
    assert(sums(once) == oneShot(b0))
    assert(ManifestStore.committedVersion(spark, twice) == 1, "the skipped batch published")
    // the gate passes the next id
    Slices.commit(spark, twice, 1)(sumStep(b1, _))
    assert(sums(twice) == oneShot(b0.unionByName(b1)))
    assert(Slices.committedBatch(ManifestStore.snapshot(spark, twice)) == Some(1L))
  }

  test("a trigger that throws after its commit restarts on the same checkpoint into the uncrashed store") {
    val all = events(0, 600)
    val src = Slices.stage(all, "commitspec", 3)
    val schema = spark.read.parquet(src).schema
    val (root, ckpt) = (tmp("gc_store"), tmp("gc_ckpt"))
    ManifestStore.crashPoint = Some("gc")
    try intercept[Exception] {
      Slices.drainInto(spark, src, schema, root, Some(ckpt))(sumStep)
    } finally ManifestStore.crashPoint = None
    // trigger 0 committed (with its batch id) before it threw
    val crashed = ManifestStore.snapshot(spark, root)
    assert(Slices.committedBatch(crashed) == Some(0L))
    assert(crashed.tableFiles("sums").nonEmpty)
    // the restart re-delivers batch 0; the gate skips it
    Slices.drainInto(spark, src, schema, root, Some(ckpt))(sumStep)
    val clean = tmp("gc_clean")
    Slices.drainInto(spark, src, schema, clean)(sumStep)
    assert(sums(root) == sums(clean))
    assert(sums(clean) == oneShot(all))
    assert(Slices.committedBatch(ManifestStore.snapshot(spark, root)) == Some(2L))
  }

  test("a trigger crashed before its commit leaves readers on the pre-trigger snapshot") {
    val (b0, b1) = (events(0, 100), events(100, 250))
    val root = tmp("publish")
    Slices.commit(spark, root, 0)(sumStep(b0, _))
    val before = ManifestStore.snapshot(spark, root)
    ManifestStore.crashPoint = Some("publish")
    try intercept[IllegalStateException] {
      Slices.commit(spark, root, 1)(sumStep(b1, _))
    } finally ManifestStore.crashPoint = None
    // the crashed trigger's files are on disk but not committed
    val after = ManifestStore.snapshot(spark, root)
    assert(after.version == before.version)
    assert(after.files == before.files)
    assert(sums(root) == oneShot(b0))
    val onDisk = new java.io.File(s"$root/sums").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(onDisk > after.tableFiles("sums").size, "the crash left no uncommitted write")
    // the re-run commits once
    Slices.commit(spark, root, 1)(sumStep(b1, _))
    assert(sums(root) == oneShot(b0.unionByName(b1)))
  }

  private val cdcSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("bucket_ms", LongType), StructField("version", LongType)))

  for (point <- Seq("publish", "gc"))
    test(s"stream_tier_correction crashed at $point: CDC and store change commit together, " +
        "and the restart equals the batch correction with no duplicated CDC row") {
      val (src, root, ckpt) = (tmp("corr_src"), tmp("corr_store"), tmp("corr_ckpt"))
      val schema = Streaming.tierCorrectionStage(spark, sfDir, src, root)
      val seeded = ManifestStore.snapshot(spark, root)
      ManifestStore.crashPoint = Some(point)
      try intercept[Exception] {
        Streaming.tierCorrectionInto(spark, src, schema, root, Some(ckpt))
      } finally ManifestStore.crashPoint = None
      val crashed = ManifestStore.snapshot(spark, root)
      if (point == "publish") {
        // neither the CDC rows nor the tier1h rewrite of the trigger
        assert(crashed.version == seeded.version)
        assert(crashed.tableFiles("cdc").isEmpty)
        assert(crashed.tableFiles("tier1h") == seeded.tableFiles("tier1h"))
      } else {
        // both, in one version
        assert(crashed.version == seeded.version + 1)
        assert(Slices.committedBatch(crashed) == Some(0L))
        assert(ManifestStore.readTable(spark, root, "cdc", cdcSchema).count() > 0)
        assert(crashed.tableFiles("tier1h") != seeded.tableFiles("tier1h"))
      }
      val restarted = Streaming.tierCorrectionInto(spark, src, schema, root, Some(ckpt))
        .collect().map(_.mkString("|")).toSeq
      val batch = graft.operators.TimeSeries.tierCorrection(spark, sfDir)
        .collect().map(_.mkString("|")).toSeq
      assert(restarted.nonEmpty)
      assert(restarted == batch)
      val cdc = ManifestStore.readTable(spark, root, "cdc", cdcSchema)
      assert(cdc.groupBy("version", "user_id", "event_type", "bucket_ms").count()
        .where(col("count") > 1).isEmpty, "a (trigger, bucket) CDC row is duplicated")
      // every trigger carried rows and committed its CDC once
      val triggers = Slices.committedBatch(ManifestStore.snapshot(spark, root)).get + 1
      assert(triggers == 3)
      assert(cdc.select("version").distinct().count() == triggers)
    }
}
