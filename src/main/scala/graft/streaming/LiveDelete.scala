package graft.streaming

import graft.similarity.{Bm25Store, DeleteRepair, Embeddings, KnnGraph, StoredIndex}
import graft.util.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion gated against the LIVE streaming-maintained stores, in the
  * production sequence a real deployment runs it: ingest triggers →
  * a GDPR/retention delete → MORE ingest triggers → the scheduled
  * compaction sweep → serve. One gated query per store family
  * (IVFADC, kNN graph, BM25), each ending bit-equal to the
  * full-recompute oracle over the SURVIVING corpus — which pins all
  * three legs of deletion durability at once:
  *
  *   - rows ingested BEFORE the delete are repaired out of the store
  *     (the [[DeleteRepair]] touched-partition repairs, run here
  *     against the trigger-built multi-file stores, mid-stream);
  *   - rows arriving AFTER the delete never enter it (every ingest
  *     batch gates on the store's [[graft.util.DeleteLog]] — without
  *     this, the triggers→delete→triggers sequence silently resurrects
  *     any deleted id whose source row lands late);
  *   - the compaction sweep carries the deletion through its rewrite
  *     (it compacts the committed survivor snapshot).
  *
  * The two-phase drain shares ONE source dir and ONE streaming
  * checkpoint: [[Slices.stage]] queues the post-delete slice behind
  * the two already drained, so the second drain resumes exactly where
  * the first stopped — the same query, interrupted by maintenance, as
  * in production. Specs additionally pin ordering convergence
  * (delete-then-append ≡ append-then-delete) per family.
  *
  * Reference: signalk-parquet's retention (utils/retention-rules.ts)
  * deletes raw partitions only; composing deletion with live derived
  * stores is the training-pipeline extension's operational leg.
  */
object LiveDelete {

  /** The arrival split around the delete: the lowest two thirds of
    * the ids arrive before it, the rest after it. */
  private def arrivals(df: DataFrame, idCol: String): (DataFrame, DataFrame) = {
    val n = df.count()
    val boundary = df.select(idCol).orderBy(col(idCol))
      .limit((n * 2 / 3).toInt).agg(max(idCol)).head().getLong(0) + 1
    (df.where(col(idCol) < boundary), df.where(col(idCol) >= boundary))
  }

  // -------------------------------------------------------------- #122
  /** IVFADC: quantizers bootstrapped once → two trigger batches →
    * delete (touched-cell repair + log)
    * → the remaining batch (its deleted ids gated out) → per-cell
    * compaction sweep → ADC search ≡ fresh index on the survivors. */
  def streamAnnIvfPqDeleted(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.search(spark, dir, builtAnnDeletedStore(spark, dir))

  /** The store builder, exposed so the spec can assert on the final
    * store state (post-delete arrivals gated, compaction carried). */
  private[graft] def builtAnnDeletedStore(spark: SparkSession, dir: String): String = {
    graft.functions.Native.register(spark)
    val emb = graft.Tables.embeddings(spark, dir)
    val srcDir = Fs.scratch("lived_ann_src")
    val base = Fs.scratch("lived_ann_store")
    val ckpt = Some(Fs.scratch("lived_ann_ckpt"))
    val (before, after) = arrivals(emb, "vec_id")
    Slices.stage(before.repartitionByRange(2, col("vec_id")), spark_partition_id(), 2, srcDir)
    AnnStream.bootstrap(spark, dir, base)
    AnnStream.buildStore(spark, srcDir, emb.schema, base, ckpt)
    StoredIndex.delete(spark, base,
      Embeddings.vecsOf(graft.Tables.embeddings(spark, dir)).where(DeleteRepair.delVecPred))
    Slices.stage(after, lit(0), 1, srcDir)
    AnnStream.buildStore(spark, srcDir, emb.schema, base, ckpt)
    AnnStream.compactIndexStore(spark, base)
    base
  }

  // -------------------------------------------------------------- #123
  /** kNN graph: the same choreography on the directed-list store —
    * the delete rescores survivors that lost a neighbor, later
    * triggers keep repairing the survivor lists (the mergeable top-k
    * carry), and the served mutual edges equal the fresh build on the
    * surviving corpus. */
  def streamKnnGraphDeleted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val emb = graft.Tables.embeddings(spark, dir)
    val srcDir = Fs.scratch("lived_knn_src")
    val base = Fs.scratch("lived_knn_store")
    val ckpt = Some(Fs.scratch("lived_knn_ckpt"))
    val (before, after) = arrivals(emb, "vec_id")
    Slices.stage(before.repartitionByRange(2, col("vec_id")), spark_partition_id(), 2, srcDir)
    GraphStream.buildStore(spark, dir, srcDir, emb.schema, base, ckpt)
    DeleteRepair.deleteFromGraph(spark, base,
      Embeddings.vecsOf(graft.Tables.embeddings(spark, dir)).where(DeleteRepair.delVecPred))
    Slices.stage(after, lit(0), 1, srcDir)
    GraphStream.buildStore(spark, dir, srcDir, emb.schema, base, ckpt)
    GraphStream.compactGraphStore(spark, base)
    KnnGraph.mutualEdges(GraphStream.readTopk(spark, base))
      .orderBy("id_a", "id_b")
  }

  // -------------------------------------------------------------- #124
  /** BM25: postings/dl/stats maintained through trigger appends, a
    * mid-stream delete (touched-bucket repair + per-(db, batch)
    * stats recount), the remaining docs (deleted ids gated), the
    * bucket compaction sweep, then scoring ≡ the fresh index on the
    * surviving docs. */
  def streamBm25Deleted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val docs = graft.Tables.documents(spark, dir)
    val srcDir = Fs.scratch("lived_bm_src")
    val base = Fs.scratch("lived_bm_store")
    val ckpt = Some(Fs.scratch("lived_bm_ckpt"))
    val (before, after) = arrivals(docs, "doc_id")
    Slices.stage(before.repartitionByRange(2, col("doc_id")), spark_partition_id(), 2, srcDir)
    KmvStream.drainBm25Into(spark, srcDir, docs.schema, base, ckpt)
    Bm25Store.delete(spark, base, docs.where(DeleteRepair.delDocPred))
    Slices.stage(after, lit(0), 1, srcDir)
    KmvStream.drainBm25Into(spark, srcDir, docs.schema, base, ckpt)
    Bm25Store.compact(spark, base)
    Bm25Store.score(spark, dir, base)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ann_ivfpq_deleted" -> (streamAnnIvfPqDeleted _),
    "stream_knn_graph_deleted" -> (streamKnnGraphDeleted _),
    "stream_bm25_deleted" -> (streamBm25Deleted _))

  /** Every family's answer must equal the FRESH full-recompute oracle
    * on the surviving corpus — the same survivor rewrites as the
    * store_delete_* twins (deletion is durable across arrival order,
    * later ingest, and compaction; nothing else may change). */
  val oracles: Map[String, String] = Map(
    "stream_ann_ivfpq_deleted" -> DeleteRepair.storeDeleteIvfPqOracle,
    "stream_knn_graph_deleted" -> DeleteRepair.storeDeleteKnnOracle,
    "stream_bm25_deleted" -> DeleteRepair.storeDeleteBm25Oracle)
}
