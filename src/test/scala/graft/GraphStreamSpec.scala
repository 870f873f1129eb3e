package graft

import graft.similarity.{Embeddings, KnnGraph}
import graft.streaming.GraphStream
import graft.util.ManifestStore
import org.apache.spark.sql.functions._

/** Incremental kNN-graph maintenance: the per-trigger repaired store
  * must equal the full rebuild, and the repair must actually be
  * exercised (a later batch evicting an earlier node's neighbor). */
class GraphStreamSpec extends SparkSpec {

  test("store after 3 batches equals the full rebuild (directed lists AND mutual edges)") {
    val emb = Tables.embeddings(spark, sfDir)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_graphspec_src").toString
    emb.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val base = java.nio.file.Files.createTempDirectory("graft_graphspec_store").toString
    GraphStream.buildStore(spark, sfDir, srcDir, emb.schema, base)
    // directed lists ≡ one-shot collapse over the whole corpus
    graft.functions.Native.register(spark)
    val e = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
    val oneShot = KnnGraph.directedTopk(
      KnnGraph.scoredPairs(KnnGraph.srcSide(e), KnnGraph.dstSide(e)))
      .select("label", "src_id", "dst_id", "cos", "rank")
      .orderBy("src_id", "rank").collect()
    val maintained = GraphStream.readTopk(spark, base)
      .orderBy("src_id", "rank").collect()
    assert(maintained.nonEmpty)
    assert(maintained.map(_.toString).toSeq == oneShot.map(_.toString).toSeq)
    // mutual edges ≡ the inline twin, bit for bit
    val live = KnnGraph.mutualEdges(
      GraphStream.readTopk(spark, base)).orderBy("id_a", "id_b").collect()
    val inline = KnnGraph.knnGraph(spark, sfDir).collect()
    assert(live.map(_.toString).toSeq == inline.map(_.toString).toSeq)
    // the live vector store compacts through the named seam: one
    // manifest file per label dir afterwards, layout kept, store
    // result-invisible
    def vecFiles(): Seq[String] = ManifestStore.tableFiles(spark, base, "vecs")
    def labels(fs: Seq[String]): Set[String] = fs.map(_.takeWhile(_ != '/')).toSet
    val before = vecFiles()
    assert(before.size > labels(before).size, "no per-trigger vec fan-out to compact")
    val rowsBefore = ManifestStore.readTable(spark, base, "vecs", GraphStream.vecsSchema)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    GraphStream.compactGraphStore(spark, base)
    val after = vecFiles()
    assert(labels(after) == labels(before), "compaction lost label partitions")
    assert(after.size == labels(after).size, s"vecs not 1 file/label: ${after.size}")
    val rowsAfter = ManifestStore.readTable(spark, base, "vecs", GraphStream.vecsSchema)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(rowsAfter == rowsBefore, "vec store rows changed across compaction")
  }

  test("a re-delivered micro-batch is a no-op: double delivery equals single delivery") {
    // foreachBatch is at-least-once — a crash after the topk publish /
    // vecs append but before the checkpoint commit re-runs the batch;
    // the candidate dedup + gated vecs append must make that exact
    val emb = Tables.embeddings(spark, sfDir)
    def mkStore(n: Int): String = {
      val b = java.nio.file.Files.createTempDirectory("graft_graph_redeliver").toString
      GraphStream.ingestBatch(spark, b, emb)
      for (_ <- 2 to n) GraphStream.ingestBatch(spark, b, emb)
      b
    }
    val once = mkStore(1)
    val twice = mkStore(2)
    for (t <- Seq("topk", "vecs")) {
      val sch = if (t == "topk") GraphStream.topkSchema else GraphStream.vecsSchema
      val a = ManifestStore.readTable(spark, once, t, sch)
      val b = ManifestStore.readTable(spark, twice, t, sch)
      val cols = a.columns.sorted.map(col).toSeq
      assert(b.count() == a.count(), s"$t re-delivery changed the row count")
      assert(b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty, s"$t rows diverged")
      assert(a.count() > 0)
    }
  }

  test("a 1-vector trigger rewrites ONLY its touched label partition (file-listing pin)") {
    val emb = Tables.embeddings(spark, sfDir)
    val last = emb.orderBy(col("vec_id").desc).limit(1).collect().head
    val lastId = last.getLong(last.fieldIndex("vec_id"))
    val lastLabel = last.getInt(last.fieldIndex("label"))
    // drain everything EXCEPT the last vector, snapshot the store files
    val src1 = java.nio.file.Files.createTempDirectory("graft_graphspec_s1").toString
    emb.where(col("vec_id") =!= lastId).coalesce(1)
      .write.mode("overwrite").parquet(src1)
    val base = java.nio.file.Files.createTempDirectory("graft_graphspec_touch").toString
    GraphStream.buildStore(spark, sfDir, src1, emb.schema, base)
    def listing(): Map[String, (Long, Long)] = {
      val fs = graft.util.Fs.of(spark, base)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(base + "/topk"), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString -> ((st.getLen, st.getModificationTime))
      }
      b.result()
    }
    val before = listing()
    val beforeManifest = ManifestStore.tableFiles(spark, base, "topk").toSet
    assert(before.keys.exists(_.contains(s"label=$lastLabel")), "touched label present pre-trigger")
    assert(before.keys.exists(!_.contains(s"label=$lastLabel")), "untouched labels present pre-trigger")
    // one more trigger: exactly the one held-out vector
    val src2 = java.nio.file.Files.createTempDirectory("graft_graphspec_s2").toString
    emb.where(col("vec_id") === lastId).coalesce(1)
      .write.mode("overwrite").parquet(src2)
    GraphStream.buildStore(spark, sfDir, src2, emb.schema, base)
    val after = listing()
    val afterManifest = ManifestStore.tableFiles(spark, base, "topk").toSet
    // untouched label partitions: byte-for-byte the same files on disk
    val untouchedBefore = before.filter(!_._1.contains(s"label=$lastLabel"))
    val untouchedAfter = after.filter(!_._1.contains(s"label=$lastLabel"))
    assert(untouchedAfter == untouchedBefore,
      "an untouched label partition was rewritten by a 1-label trigger")
    // the touched partition WAS republished: its manifest entries are
    // all fresh (the old files survive only as unreferenced grace
    // copies until the next publish of that partition)
    assert(afterManifest.filter(_.startsWith(s"label=$lastLabel/"))
      .intersect(beforeManifest.filter(_.startsWith(s"label=$lastLabel/"))).isEmpty,
      "touched label partition was not republished")
    assert(afterManifest.filterNot(_.startsWith(s"label=$lastLabel/")) ==
      beforeManifest.filterNot(_.startsWith(s"label=$lastLabel/")),
      "untouched labels' manifest entries changed")
    // and the maintained store still equals the full rebuild, bit for bit
    val live = KnnGraph.mutualEdges(
      GraphStream.readTopk(spark, base)).orderBy("id_a", "id_b").collect()
    val inline = KnnGraph.knnGraph(spark, sfDir).collect()
    assert(live.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("the repair path is exercised: a later batch evicts an earlier node's top-5 entry") {
    // range-slicing by vec_id puts low ids in trigger 1 and high ids in
    // trigger 3; if no later vector ever entered an earlier node's
    // top-5, every low node's final list would point only at ids from
    // its own or earlier slices. Assert the opposite is present — the
    // seam the directed-list carry exists for.
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val firstSliceMax = emb.selectExpr("vec_id").orderBy("vec_id")
      .limit((n / 3).toInt).agg(max("vec_id")).head().getLong(0)
    graft.functions.Native.register(spark)
    val e = Embeddings.vecsOf(Tables.embeddings(spark, sfDir))
    val lists = KnnGraph.directedTopk(
      KnnGraph.scoredPairs(KnnGraph.srcSide(e), KnnGraph.dstSide(e)))
    val crossSeam = lists
      .where(col("src_id") <= firstSliceMax && col("dst_id") > firstSliceMax)
      .count()
    assert(crossSeam > 0,
      "corpus produces no cross-slice top-5 entries — the eviction path would be untested")
  }
}
