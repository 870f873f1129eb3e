package graft

import graft.similarity.{DeleteRepair, Embeddings, IndexRefresh, StoredIndex}
import graft.streaming.{AnnStream, LiveDelete}
import graft.util.{DeleteLog, ManifestStore}
import org.apache.spark.sql.functions._

/** Deletion against the LIVE streaming-maintained stores: rows deleted
  * mid-stream stay deleted across later triggers and the compaction
  * sweep, and the final store equals the append-everything-then-delete
  * ordering bit-for-bit. Plus the blue/green composition on the
  * converged manifest primitive: the staging gate keeps deleted ids
  * out of every later rotation, deletes repair whichever version is
  * committed, and the delete log's file count stays bounded. */
class LiveDeleteSpec extends SparkSpec {

  graft.functions.Native.register(spark)

  test("live IVFADC: delete-then-append equals append-then-delete, and late arrivals are gated") {
    val emb = Tables.embeddings(spark, sfDir)
    // the mid-stream choreography (2 triggers -> delete -> 1 trigger ->
    // compact), internals exposed for the store assertions
    val dta = LiveDelete.builtAnnDeletedStore(spark, sfDir)
    // sanity: the delete set splits across the phases — some deleted
    // ids arrive only AFTER the delete, so the log gate is exercised
    val n = emb.count()
    val boundary = emb.select("vec_id").orderBy("vec_id")
      .limit((n * 2 / 3).toInt).agg(max("vec_id")).head().getLong(0) + 1
    val lateDeleted = emb.where(pmod(col("vec_id"), lit(17L)) === 14L &&
      col("vec_id") >= boundary).count()
    assert(lateDeleted > 0, "no deleted id arrives post-delete — the gate is untested")
    // no deleted id anywhere in the final store
    for ((t, sch) <- Seq("lists" -> StoredIndex.listsSchema,
        "codes" -> StoredIndex.codesSchema))
      assert(ManifestStore.readTable(spark, dta, t, sch)
        .where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty,
        s"$t retains deleted ids")
    // append-then-delete: full drain, then the same delete, same sweep
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lds_src").toString
    emb.repartitionByRange(3, col("vec_id")).write.mode("overwrite").parquet(srcDir)
    val atd = java.nio.file.Files.createTempDirectory("graft_lds_store").toString
    AnnStream.bootstrap(spark, sfDir, atd)
    AnnStream.buildStore(spark, srcDir, emb.schema, atd)
    StoredIndex.delete(spark, atd,
      Embeddings.vecsOf(Tables.embeddings(spark, sfDir)).where(DeleteRepair.delVecPred))
    AnnStream.compactIndexStore(spark, atd)
    for ((t, sch) <- Seq("lists" -> StoredIndex.listsSchema,
        "codes" -> StoredIndex.codesSchema)) {
      val a = ManifestStore.readTable(spark, dta, t, sch)
      val b = ManifestStore.readTable(spark, atd, t, sch)
      val cols = a.columns.sorted.map(col).toSeq
      assert(a.count() == b.count() && a.count() > 0, s"$t count")
      assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty, s"$t diverged")
    }
    // and both serve the survivors answer
    val x = StoredIndex.search(spark, sfDir, dta).collect()
    val y = StoredIndex.search(spark, sfDir, atd).collect()
    assert(x.nonEmpty)
    assert(x.map(_.toString).toSeq == y.map(_.toString).toSeq)
  }

  test("live IVFADC: the quantizers are trained and published once — the bootstrap's files serve every later trigger, delete and sweep") {
    val base = LiveDelete.builtAnnDeletedStore(spark, sfDir)
    assert(ManifestStore.committedVersion(spark, base) > 1, "nothing published after the bootstrap")
    // a dir's shard file is named for the version that wrote it and is
    // carried verbatim by every publish that leaves the dir alone: a
    // v1 shard means the committed files are the bootstrap's
    val shards = ManifestStore.shardIndex(spark, base).toMap
    for (t <- Seq("centroids", "codebook")) {
      assert(shards.contains(t), s"no committed $t table")
      assert(shards(t).startsWith(s"${t}_v1_"),
        s"$t republished after the bootstrap: ${shards(t)}")
    }
  }

  /** Data files of one table on disk (the manifest may reference fewer
    * — the difference is grace copies awaiting GC). */
  private def diskTableFiles(root: String, table: String): Set[String] = {
    val fs = graft.util.Fs.of(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/$table")
    val b = Set.newBuilder[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet")) b += f
      }
    }
    b.result()
  }

  test("blue/green GC: after rotations the store holds at most two versions' files; crash mid-GC self-heals") {
    val root = java.nio.file.Files.createTempDirectory("graft_bg_gc").toString
    val orig = Embeddings.vecs(spark, sfDir)
    StoredIndex.publish(spark, root, orig)
    val v1Lists = diskTableFiles(root, "lists")
    StoredIndex.publish(spark, root, orig)
    // grace: v1's files are retired from the manifest but still on disk
    assert(v1Lists.subsetOf(diskTableFiles(root, "lists")),
      "grace copy dropped too early")
    // the v3 rotation retires v1's files; crash between its commit and
    // its GC — the commit stands, serving is unaffected
    ManifestStore.crashPoint = Some("gc")
    intercept[IllegalStateException] {
      StoredIndex.publish(spark, root, orig)
    }
    ManifestStore.crashPoint = None
    assert(ManifestStore.committedVersion(spark, root) == 3)
    val probes = orig.where(col("vec_id") < 5)
    assert(StoredIndex.searchProbes(spark, root, probes).count() > 0)
    // the next publish collects the backlog: v1's files are gone and
    // the disk holds at most the grace version + the live one
    StoredIndex.publish(spark, root, orig)
    assert(v1Lists.intersect(diskTableFiles(root, "lists")).isEmpty,
      "retired version's files never GC'd")
    val live = ManifestStore.tableFiles(spark, root, "lists").size
    assert(diskTableFiles(root, "lists").size <= 2 * live,
      "more than two versions' files on disk")
    // both the live and the grace version stay fully readable
    assert(StoredIndex.searchProbes(spark, root, probes).count() > 0)
  }

  test("blue/green composition: a delete logged BEFORE a rotation is excluded from the rotated version (the staging gate)") {
    val root = java.nio.file.Files.createTempDirectory("graft_bg_mid").toString
    val drifted = IndexRefresh.driftedVecs(spark, sfDir)
    StoredIndex.publish(spark, root, Embeddings.vecs(spark, sfDir))
    // the delete lands as ONE atomic publish: log + serving-version repair
    StoredIndex.delete(spark, root,
      Embeddings.vecs(spark, sfDir).where(DeleteRepair.delVecPred))
    // the serving version already excludes the deleted ids
    assert(ManifestStore.readTable(spark, root, "lists", StoredIndex.listsSchema)
      .where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty)
    // the rotation stages from the drifted feed, gated on the log
    // (read under the rotation's own lease): deleted ids must not be
    // re-indexed even though the feed still carries them
    StoredIndex.publish(spark, root, drifted)
    assert(ManifestStore.readTable(spark, root, "lists", StoredIndex.listsSchema)
      .where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty,
      "the rotation re-indexed deleted ids")
    // post-rotation search == fresh build on the drifted SURVIVORS
    val served = StoredIndex.searchProbes(spark, root,
      drifted.where(col("vec_id") < 5)).collect()
    val freshRoot = java.nio.file.Files.createTempDirectory("graft_bg_midf").toString
    StoredIndex.publish(spark, freshRoot,
      drifted.where(!DeleteRepair.delVecPred))
    val fresh = StoredIndex.searchProbes(spark, freshRoot,
      drifted.where(col("vec_id") < 5)).collect()
    assert(served.nonEmpty)
    assert(served.map(_.toString).toSeq == fresh.map(_.toString).toSeq)
  }

  test("a delete AFTER a rotation repairs the rotated version; the log survives every later rotation's gate") {
    val root = java.nio.file.Files.createTempDirectory("graft_bg_race").toString
    val orig = Embeddings.vecs(spark, sfDir)
    StoredIndex.publish(spark, root, orig)
    StoredIndex.publish(spark, root, orig) // the rotation
    StoredIndex.delete(spark, root,
      orig.where(DeleteRepair.delVecPred))
    assert(ManifestStore.readTable(spark, root, "lists", StoredIndex.listsSchema)
      .where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty)
    // the log survives for every FUTURE rotation's staging gate
    assert(DeleteLog.ids(ManifestStore.snapshot(spark, root), "vec_id").exists(_.count() > 0))
    StoredIndex.publish(spark, root, orig)
    assert(ManifestStore.readTable(spark, root, "lists", StoredIndex.listsSchema)
      .where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty,
      "a later rotation re-indexed deleted ids")
  }

  test("the log's fold decision is made UNDER the publish lease: a publish slipping in after op construction cannot stale the FoldAt bound") {
    // The log op is built inside the publish builder from the snapshot
    // resolved under the lease: a writer that tries to land an append
    // between that decision and the commit is refused at the lease, so
    // the decision cannot go stale and the FoldAt bound holds exactly.
    val root = java.nio.file.Files.createTempDirectory("graft_dellog_defer").toString
    import spark.implicits._
    def one(x: Long) = Seq(x).toDF("doc_id")
    def logFiles = ManifestStore.tableFiles(spark, root, DeleteLog.Table).size
    for (i <- 1 to (DeleteLog.FoldAt - 1))
      DeleteLog.append(spark, root, one(i.toLong), "doc_id")
    assert(logFiles == DeleteLog.FoldAt - 1)
    ManifestStore.publishOps(spark, root) { snap =>
      // the interleaving writer: refused while this publish holds the lease
      intercept[IllegalStateException](DeleteLog.append(spark, root, one(200L), "doc_id"))
      Seq(DeleteLog.appendOp(snap, one(100L), "doc_id"))
    }
    assert(logFiles == DeleteLog.FoldAt, "FoldAt - 1 committed files must APPEND")
    // the next append sees FoldAt committed files and folds
    DeleteLog.append(spark, root, one(200L), "doc_id")
    assert(logFiles == 1, "FoldAt committed files must FOLD")
    val logged = DeleteLog.ids(ManifestStore.snapshot(spark, root), "doc_id").get
      .collect().map(_.getLong(0)).toSet
    assert(((1L until DeleteLog.FoldAt) ++ Seq(100L, 200L)).forall(logged.contains),
      "the fold dropped logged ids")
  }

  test("the delete log's file count stays bounded across a long delete sequence (fold-at-threshold)") {
    val root = java.nio.file.Files.createTempDirectory("graft_dellog_bound").toString
    val orig = Embeddings.vecs(spark, sfDir)
    StoredIndex.publish(spark, root, orig)
    val ids = orig.where(pmod(col("vec_id"), lit(17L)) === 14L)
      .select("vec_id").limit(12).collect().map(_.getLong(0))
    assert(ids.length >= 10, "need a long enough delete sequence")
    import spark.implicits._
    for (id <- ids)
      StoredIndex.delete(spark, root,
        orig.where(col("vec_id") === id))
    val logFiles = ManifestStore.tableFiles(spark, root, DeleteLog.Table)
    assert(logFiles.nonEmpty)
    assert(logFiles.size <= DeleteLog.FoldAt,
      s"delete log grew unbounded: ${logFiles.size} files after ${ids.length} deletes")
    // the folded log still gates: every id stays deleted
    val logged = DeleteLog.ids(ManifestStore.snapshot(spark, root), "vec_id").get
      .collect().map(_.getLong(0)).toSet
    assert(ids.toSet.subsetOf(logged), "a fold dropped logged ids")
  }
}
