package graft

import graft.similarity.{Bm25Store, DeleteRepair, Embeddings, Hybrid, KnnGraph, StoredIndex}
import graft.streaming.GraphStream
import graft.util.ManifestStore
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Deletion with derived-index repair: touched partitions only, exact
  * equality with a fresh build on the surviving corpus, idempotent
  * crash re-runs. */
class DeleteRepairSpec extends SparkSpec {

  graft.functions.Native.register(spark)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** (path → mtime) of every parquet file under `root`. */
  private def inv(root: String): Map[String, Long] = {
    val fs = graft.util.Fs.of(spark, root)
    val b = Map.newBuilder[String, Long]
    val it = fs.listFiles(new Path(root), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.toString.endsWith(".parquet"))
        b += (f.getPath.toString -> f.getModificationTime)
    }
    b.result()
  }

  private def lists(base: String) =
    ManifestStore.readTable(spark, base, "lists", StoredIndex.listsSchema)
  private def codes(base: String) =
    ManifestStore.readTable(spark, base, "codes", StoredIndex.codesSchema)

  private def survivors = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
    .where(!(pmod(col("vec_id"), lit(17L)) === 14L))

  test("IVFADC single-vector delete rewrites only its cell and drops exactly its rows") {
    val base = StoredIndex.cloneStore(spark, StoredIndex.stageIvfPq(spark, sfDir))
    val cell = lists(base)
      .where(col("neighbor_id") === 14L).head().getInt(1)
    val nLists = lists(base).count()
    val nCodes = codes(base).count()
    val before = inv(s"$base/lists") ++ inv(s"$base/codes")
    val beforeM = ManifestStore.tableFiles(spark, base, "lists").map("lists/" + _).toSet ++
      ManifestStore.tableFiles(spark, base, "codes").map("codes/" + _).toSet
    val delVec = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
      .where(col("vec_id") === 14L)
    StoredIndex.delete(spark, base, delVec)
    val after = inv(s"$base/lists") ++ inv(s"$base/codes")
    val afterM = ManifestStore.tableFiles(spark, base, "lists").map("lists/" + _).toSet ++
      ManifestStore.tableFiles(spark, base, "codes").map("codes/" + _).toSet
    val untouchedBefore = before.filterNot(_._1.contains(s"bucket=$cell/"))
    assert(untouchedBefore.nonEmpty)
    // every file outside the deleted vector's cell is the SAME file on
    // disk AND the same manifest entry
    assert(after.filterNot(_._1.contains(s"bucket=$cell/")) == untouchedBefore)
    assert(afterM.filterNot(_.contains(s"bucket=$cell/")) ==
      beforeM.filterNot(_.contains(s"bucket=$cell/")))
    // the touched cell was republished (no old manifest entry survives)
    assert(afterM.filter(_.contains(s"bucket=$cell/"))
      .intersect(beforeM.filter(_.contains(s"bucket=$cell/"))).isEmpty)
    assert(lists(base)
      .where(col("neighbor_id") === 14L).isEmpty)
    assert(codes(base)
      .where(col("neighbor_id") === 14L).isEmpty)
    assert(lists(base).count() == nLists - 1)
    assert(codes(base).count() == nCodes - 8)
  }

  test("IVFADC repaired search equals a fresh index built from the survivors") {
    val repaired = DeleteRepair.storeDeleteIvfPq(spark, sfDir).collect()
    val fresh = tmp("graft_delspec_fresh")
    StoredIndex.publish(spark, fresh, survivors)
    val expected = StoredIndex.search(spark, sfDir, fresh).collect()
    assert(repaired.nonEmpty)
    assert(repaired.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("kNN single-vector delete rewrites only its label partitions; node gone as src AND dst") {
    val base = DeleteRepair.cloneGraph(spark, DeleteRepair.stageDirectedTopk(spark, sfDir))
    val label = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") === 14L).select("label").head().getInt(0)
    val before = inv(s"$base/topk") ++ inv(s"$base/vecs")
    val delVec = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
      .where(col("vec_id") === 14L)
    DeleteRepair.deleteFromGraph(spark, base, delVec)
    val after = inv(s"$base/topk") ++ inv(s"$base/vecs")
    val untouched = before.filterNot(_._1.contains(s"label=$label/"))
    assert(untouched.nonEmpty)
    assert(after.filterNot(k => k._1.contains(s"label=$label/") ||
      k._1.contains("/deletes/")) == untouched)
    val topk = GraphStream.readTopk(spark, base)
    assert(topk.where(col("src_id") === 14L || col("dst_id") === 14L).isEmpty)
    assert(ManifestStore.readTable(spark, base, "vecs", GraphStream.vecsSchema).where(col("vec_id") === 14L).isEmpty)
    // survivors that had 14 in their top-5 still have exactly 5
    // entries (the block is larger than k) — the rescore refilled them
    assert(topk.where(col("label") === label)
      .groupBy("src_id").agg(count(lit(1)).as("n"))
      .where(col("n") =!= 5).isEmpty)
  }

  test("kNN repaired mutual edges equal the fresh build on the survivors") {
    val repaired = DeleteRepair.storeDeleteKnn(spark, sfDir).collect()
    val s = survivors
    val expected = KnnGraph.mutualEdges(KnnGraph.directedTopk(
        KnnGraph.scoredPairs(KnnGraph.srcSide(s), KnnGraph.dstSide(s))))
      .orderBy("id_a", "id_b").collect()
    assert(repaired.nonEmpty)
    assert(repaired.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("a crash inside the publish window re-runs to the clean result") {
    val staged = DeleteRepair.stageDirectedTopk(spark, sfDir)
    val crashed = DeleteRepair.cloneGraph(spark, staged)
    val clean = DeleteRepair.cloneGraph(spark, staged)
    val delVecs = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
      .where(pmod(col("vec_id"), lit(17L)) === 14L)
    val preCrash = GraphStream.readTopk(spark, crashed)
      .orderBy("src_id", "rank").collect().map(_.toString).toSeq
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] {
      DeleteRepair.deleteFromGraph(spark, crashed, delVecs)
    }
    ManifestStore.crashPoint = None
    // the interrupted store still serves its last committed snapshot —
    // a reader between the crash and the re-run sees NO partial state
    assert(GraphStream.readTopk(spark, crashed)
      .orderBy("src_id", "rank").collect().map(_.toString).toSeq == preCrash,
      "a reader saw the crashed publish's partial state")
    // the re-run repairs to the clean outcome
    DeleteRepair.deleteFromGraph(spark, crashed, delVecs)
    DeleteRepair.deleteFromGraph(spark, clean, delVecs)
    val a = GraphStream.readTopk(spark, crashed)
    val b = GraphStream.readTopk(spark, clean)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() == b.count() && a.count() > 0)
  }

  test("delete repairs the LIVE (multi-file-per-cell) drained IVFADC store too") {
    // the streaming twin's store has one file set per (trigger, cell)
    // — the repair must replace whole partition CONTENTS, not single
    // files
    val emb = Tables.embeddings(spark, sfDir)
    val srcDir = tmp("graft_delspec_live_src")
    emb.repartitionByRange(3, col("vec_id")).write.mode("overwrite").parquet(srcDir)
    val base = tmp("graft_delspec_live")
    graft.streaming.AnnStream.bootstrap(spark, sfDir, base)
    graft.streaming.AnnStream.buildStore(spark, srcDir, emb.schema, base)
    val listFiles = ManifestStore.tableFiles(spark, base, "lists")
    val cells = listFiles.map(_.takeWhile(_ != '/')).toSet
    assert(listFiles.size > cells.size,
      "expected the per-trigger fan-out (several files per cell)")
    StoredIndex.delete(spark, base,
      Embeddings.vecsOf(emb).where(pmod(col("vec_id"), lit(17L)) === 14L))
    val repaired = StoredIndex.search(spark, sfDir, base).collect()
    val fresh = tmp("graft_delspec_live_fresh")
    StoredIndex.publish(spark, fresh, survivors)
    val expected = StoredIndex.search(spark, sfDir, fresh).collect()
    assert(repaired.nonEmpty)
    assert(repaired.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("BM25 delete equals a fresh store built from the surviving docs (dl buckets file-pinned)") {
    val docs = Tables.documents(spark, sfDir)
    val base = tmp("graft_delspec_bm")
    Bm25Store.build(spark, docs, base)
    // single-doc warmup delete pins the dl/stats bucket discipline:
    // doc 5 touches exactly the db=5 partition of dl and stats
    val dlBefore = (inv(s"$base/dl") ++ inv(s"$base/stats"))
      .filterNot(_._1.contains("/deletes/"))
    Bm25Store.delete(spark, base, docs.where(col("doc_id") === 5L))
    val dlAfter = (inv(s"$base/dl") ++ inv(s"$base/stats"))
      .filterNot(_._1.contains("/deletes/"))
    val dlUntouched = dlBefore.filterNot(_._1.contains("db=5/"))
    assert(dlUntouched.nonEmpty)
    assert(dlAfter.filterNot(_._1.contains("db=5/")) == dlUntouched)
    // then the full delete set; compare against the fresh build
    Bm25Store.delete(spark, base,
      docs.where(pmod(col("doc_id"), lit(13L)) === 5L))
    val fresh = tmp("graft_delspec_bm_fresh")
    Bm25Store.build(spark,
      docs.where(!(pmod(col("doc_id"), lit(13L)) === 5L)), fresh)
    val a = Bm25Store.score(spark, sfDir, base).collect()
    val b = Bm25Store.score(spark, sfDir, fresh).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // the repaired primary tables ARE the fresh ones, row for row
    for (t <- Seq("postings", "dl")) {
      val sch = if (t == "postings") Bm25Store.postingsSchema else Bm25Store.dlSchema
      val x = ManifestStore.readTable(spark, base, t, sch)
      val y = ManifestStore.readTable(spark, fresh, t, sch)
      val cs = x.columns.sorted.map(col).toSeq
      assert(x.select(cs: _*).exceptAll(y.select(cs: _*)).isEmpty, s"$t extra")
      assert(y.select(cs: _*).exceptAll(x.select(cs: _*)).isEmpty, s"$t missing")
    }
    // and the recounted stats partials sum to the fresh totals
    val sa = ManifestStore.readTable(spark, base, "stats", Bm25Store.statsSchema)
      .agg(sum("n_docs"), sum("tot_tok")).head()
    val sb = ManifestStore.readTable(spark, fresh, "stats", Bm25Store.statsSchema)
      .agg(sum("n_docs"), sum("tot_tok")).head()
    assert(sa == sb, s"stats totals diverged: $sa vs $sb")
  }

  test("BM25: delete-then-append and append-then-delete converge (the DeleteLog gates re-arrivals)") {
    val docs = Tables.documents(spark, sfDir)
    val delSet = docs.where(pmod(col("doc_id"), lit(13L)) === 5L)
    // append-then-delete: full store, then the delete
    val atd = tmp("graft_bm_atd")
    Bm25Store.build(spark, docs, atd)
    Bm25Store.delete(spark, atd, delSet)
    // delete-then-append: the delete lands FIRST (ids logged on an
    // empty store), then the full corpus arrives as two batches —
    // the log must gate the deleted ids out of both
    val dta = tmp("graft_bm_dta")
    Bm25Store.delete(spark, dta, delSet)
    Bm25Store.appendBatch(spark, dta, docs.where(col("doc_id") < 50), 1L)
    Bm25Store.appendBatch(spark, dta, docs.where(col("doc_id") >= 50), 2L)
    val a = Bm25Store.score(spark, sfDir, atd).collect()
    val b = Bm25Store.score(spark, sfDir, dta).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // primary rows identical too (batch keys aside)
    val x = ManifestStore.readTable(spark, atd, "postings", Bm25Store.postingsSchema)
    val y = ManifestStore.readTable(spark, dta, "postings", Bm25Store.postingsSchema)
    val cs = x.columns.sorted.map(col).toSeq
    assert(x.select(cs: _*).exceptAll(y.select(cs: _*)).isEmpty)
    assert(y.select(cs: _*).exceptAll(x.select(cs: _*)).isEmpty)
  }
}
