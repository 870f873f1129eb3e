package graft

import graft.similarity.{Embeddings, StoredIndex}
import graft.streaming.AnnStream
import graft.util.ManifestStore
import org.apache.spark.sql.functions._

/** Live IVFADC index maintenance: the per-trigger appended store must
  * be bit-identical to the one-shot staged build, and the search over
  * it must equal the inline-rebuild answer. */
class AnnStreamSpec extends SparkSpec {

  test("3-trigger drained store equals the one-shot staged index, table for table") {
    val emb = Tables.embeddings(spark, sfDir)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_annspec_src").toString
    emb.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val streamed = java.nio.file.Files.createTempDirectory("graft_annspec_store").toString
    AnnStream.bootstrap(spark, sfDir, streamed)
    AnnStream.buildStore(spark, srcDir, emb.schema, streamed)
    // exactly 3 triggers ran (one appended file set per source file)
    val staged = StoredIndex.stageIvfPq(spark, sfDir)
    for (t <- Seq("lists", "codes")) {
      val sch = if (t == "lists") StoredIndex.listsSchema else StoredIndex.codesSchema
      val s = ManifestStore.readTable(spark, streamed, t, sch)
      val o = ManifestStore.readTable(spark, staged, t, sch)
      val cols = s.columns.sorted.map(col).toSeq
      assert(s.select(cols: _*).exceptAll(o.select(cols: _*)).isEmpty, s"$t: extra rows in stream store")
      assert(o.select(cols: _*).exceptAll(s.select(cols: _*)).isEmpty, s"$t: missing rows in stream store")
      assert(s.count() == o.count(), s"$t count")
    }
    // search over the drained store ≡ the staged twin ≡ inline rebuild
    val live = StoredIndex.search(spark, sfDir, streamed).collect()
    val inline = Embeddings.annIvfPqTopK(spark, sfDir).collect()
    assert(live.nonEmpty)
    assert(live.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("compaction collapses the trigger fan-out per cell, keeps DPP, and a mid-sweep reader stays on the old snapshot") {
    val emb = Tables.embeddings(spark, sfDir)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_anncspec_src").toString
    emb.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val base = java.nio.file.Files.createTempDirectory("graft_anncspec_store").toString
    AnnStream.bootstrap(spark, sfDir, base)
    AnnStream.buildStore(spark, srcDir, emb.schema, base)
    def manifestFiles(t: String): Seq[String] = ManifestStore.tableFiles(spark, base, t)
    def buckets(t: String): Set[String] =
      manifestFiles(t).map(_.takeWhile(_ != '/')).toSet
    val (filesBefore, bucketsBefore) = (manifestFiles("lists").size, buckets("lists"))
    assert(filesBefore > bucketsBefore.size,
      "per-trigger appends produced no small-file fan-out — nothing to compact")
    // crash INSIDE the sweep's publish window (rewritten files on disk,
    // manifest not committed): a concurrent reader must keep serving
    // the PRE-sweep snapshot — then the re-run sweep completes
    val preSweep = StoredIndex.search(spark, sfDir, base).collect()
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] { AnnStream.compactIndexStore(spark, base) }
    ManifestStore.crashPoint = None
    val midCrash = StoredIndex.search(spark, sfDir, base).collect()
    assert(midCrash.map(_.toString).toSeq == preSweep.map(_.toString).toSeq,
      "a reader saw a crashed sweep's uncommitted state")
    AnnStream.compactIndexStore(spark, base)
    for (t <- Seq("lists", "codes")) {
      assert(buckets(t) == bucketsBefore, s"$t lost cell partitions")
      assert(manifestFiles(t).size == buckets(t).size,
        s"$t not compacted to one file per cell dir: ${manifestFiles(t).size}")
    }
    // result-invisible AND the nprobe DPP shape survives the rewrite
    val df = StoredIndex.search(spark, sfDir, base)
    val plan = df.queryExecution.executedPlan.toString
    val idxScans = plan.split("FileScan").toSeq.drop(1)
      .filter(s => s.contains("graft_anncspec_store") &&
        (s.contains("/lists") || s.contains("/codes")))
    assert(idxScans.size >= 2, "expected both index scans:\n" + plan.take(3000))
    idxScans.foreach { s =>
      assert(s.contains("dynamicpruning"),
        "compacted index scan not partition-pruned:\n" + s.take(1500))
    }
    val inline = Embeddings.annIvfPqTopK(spark, sfDir).collect()
    assert(df.collect().map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("a re-delivered micro-batch is a no-op: double delivery equals single delivery") {
    // foreachBatch is at-least-once — a crash after the appends but
    // before the checkpoint commit re-runs the same batch
    val emb = Tables.embeddings(spark, sfDir)
    def mkStore(): String = {
      val b = java.nio.file.Files.createTempDirectory("graft_redeliver").toString
      AnnStream.bootstrap(spark, sfDir, b)
      b
    }
    val once = mkStore()
    AnnStream.ingestBatch(spark, once, emb)
    val twice = mkStore()
    AnnStream.ingestBatch(spark, twice, emb)
    AnnStream.ingestBatch(spark, twice, emb) // the re-delivery
    for (t <- Seq("lists", "codes")) {
      val sch = if (t == "lists") StoredIndex.listsSchema else StoredIndex.codesSchema
      val a = ManifestStore.readTable(spark, once, t, sch)
      val b = ManifestStore.readTable(spark, twice, t, sch)
      val cols = a.columns.sorted.map(col).toSeq
      assert(b.count() == a.count(), s"$t re-delivery appended duplicates")
      assert(b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty, s"$t rows diverged")
      assert(a.count() > 0)
    }
  }

  test("lists and codes commit ATOMICALLY: a crashed trigger leaves both at the old version, and the re-run restores the whole-vector invariant") {
    // the failure the per-table protocol had to gate on (neighbor_id,
    // sub): a crash between the two tables' publishes could persist a
    // vector's lists row without (some of) its 8 code rows. With ONE
    // manifest spanning both tables that state is structurally
    // impossible — pin it: crash a trigger mid-publish (after both
    // write jobs, before the commit), verify the store still holds the
    // OLD version of BOTH tables (no half-vector anywhere), then
    // re-deliver and verify the invariant codes = 8 × lists with
    // matching id sets.
    val emb = Tables.embeddings(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_atomic").toString
    AnnStream.bootstrap(spark, sfDir, base)
    val firstHalf = emb.where(col("vec_id") < 50)
    AnnStream.ingestBatch(spark, base, firstHalf)
    def invariantHolds(): Unit = {
      val snap = ManifestStore.snapshot(spark, base)
      val (lists, codes) = (snap.read("lists", StoredIndex.listsSchema),
        snap.read("codes", StoredIndex.codesSchema))
      assert(codes.count() == 8 * lists.count(), "codes != 8 x lists")
      assert(lists.select("neighbor_id")
        .exceptAll(codes.select("neighbor_id").distinct()).isEmpty,
        "a vector has a lists row without codes")
    }
    invariantHolds()
    val before = ManifestStore.readTable(spark, base, "lists", StoredIndex.listsSchema).count()
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] { AnnStream.ingestBatch(spark, base, emb) }
    ManifestStore.crashPoint = None
    // the crashed trigger is invisible across BOTH tables
    assert(ManifestStore.readTable(spark, base, "lists", StoredIndex.listsSchema).count() == before)
    invariantHolds()
    // the re-delivered trigger lands the remainder exactly once
    AnnStream.ingestBatch(spark, base, emb)
    invariantHolds()
    assert(ManifestStore.readTable(spark, base, "lists", StoredIndex.listsSchema).count() == emb.count())
  }

  test("appends land inside bucket partitions — the nprobe pruning shape survives maintenance") {
    val df = AnnStream.streamAnnIvfPq(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the SAME dynamic-partition-pruning pin as the staged twin
    // (StoredIndexSpec): live appends land inside bucket=<cell>/ dirs,
    // so the probes' nprobe cell selection must still reach BOTH index
    // scans as a dynamicpruning partition filter
    val idxScans = plan.split("FileScan").toSeq.drop(1)
      .filter(s => s.contains("graft_ann_store") &&
        (s.contains("/lists") || s.contains("/codes")))
    assert(idxScans.size >= 2, "expected both index scans:\n" + plan.take(3000))
    idxScans.foreach { s =>
      assert(s.contains("dynamicpruning"),
        "index scan not partition-pruned by the probe cells:\n" + s.take(1500))
    }
    assert(df.collect().nonEmpty)
  }
}
