package graft.streaming

import graft.dedup.KmvOverlap
import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live corpus-overlap maintenance — the streaming twin of
  * [[KmvOverlap.kmvOverlap]]: per-source KMV bottom-k sketches kept
  * current as document batches arrive, so the "how much does the
  * incoming crawl overlap what we hold" answer is always one
  * metadata-sized estimator pass away (ingest gating at 100 TB/day
  * can't afford a corpus rescan per decision).
  *
  * Shape: the [[Streaming.streamHll]] sketch-store discipline — each
  * micro-batch reduces to its OWN per-source bottom-k delta (the
  * [[graft.functions.KmvSketch graft_kmv]] partial aggregate, ≤ k
  * longs per source per map task), which merges into the persisted
  * sketch store by union-and-resketch: bottom-k is a MERGEABLE
  * synopsis — k-smallest-distinct(K(A) ∪ K(B)) = K(A ∪ B) — so
  * trigger-at-a-time maintenance is bit-equal to the one-shot batch
  * sketch over the concatenated slices, and the BATCH oracle carries
  * over verbatim. The store is S rows × ≤ k longs, independent of
  * throughput; the raw stream is never retained. Each trigger commits
  * through [[Slices.commit]].
  */
object KmvStream {

  // -------------------------------------------------------------- #101
  def streamKmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val docs = graft.Tables.documents(spark, dir)
    // three doc_id-range slices, one file per trigger (the
    // streamDedupLsh staging; slice order is immaterial here — the
    // sketch union is fully order-free)
    val srcDir = Slices.stage(docs.repartitionByRange(3, col("doc_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("kmv_src"))
    val root = graft.util.Fs.scratch("kmv_store")
    val skSchema = KmvOverlap.sketches(docs).schema
    Slices.drainInto(spark, srcDir, docs.schema, root) { (batch, snap) =>
      val sp = batch.sparkSession
      graft.functions.Native.register(sp)
      // union-and-resketch: explode both ≤k-long arrays and fold them
      // back through graft_kmv — the bounded sketch union
      Seq(ManifestStore.replaceTableOp("sketches", "", () =>
        snap.read("sketches", skSchema).unionByName(KmvOverlap.sketches(batch))
          .select(col("source"), explode(col("sk")).as("h"))
          .groupBy("source")
          .agg(expr(s"graft_kmv(h, ${KmvOverlap.K})").as("sk"))))
    }
    KmvOverlap.estimator(ManifestStore.readTable(spark, root, "sketches", skSchema))
  }

  // -------------------------------------------------------------- #109
  /** Live lexical-index maintenance — the streaming twin of
    * [[graft.similarity.Hybrid.bm25Stored]], maintaining THE SAME
    * converged [[graft.similarity.Bm25Store]] layout the staged read
    * path serves from: each micro-batch's (term, doc, tf) delta
    * appends into the term-hash buckets, its dl rows (every doc, 0 for
    * token-less) and per-(db, batch) stats partials into the doc
    * buckets — one re-delivery gate on the stored dl doc ids (dl is
    * the presence table), DeleteLog ingest gating, all three tables in
    * one manifest commit ([[graft.similarity.Bm25Store.appendBatch]]).
    * Documents are
    * append-only, so the drained store answers bit-identically to the
    * one-shot batch build and the 40w8 oracle carries verbatim
    * (spec-pinned against [[Hybrid.bm25]]). Store growth is
    * corpus-proportional (it IS the index), never throughput-bounded;
    * the raw stream is not retained. */
  def streamBm25Postings(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Bm25Store.score(spark, dir, drainBm25(spark, dir))

  /** The 42s live store run through its named compaction seam before
    * serving: per-trigger appends leave one small file set per
    * (trigger, bucket); [[graft.similarity.Bm25Store.compact]]
    * collapses each bucket to one sorted file under the
    * manifest-committed snapshot flip, and the compacted index must
    * answer IDENTICALLY (same 40w8 oracle — compaction is
    * result-invisible by contract). */
  def streamBm25Compacted(spark: SparkSession, dir: String): DataFrame = {
    val base = drainBm25(spark, dir)
    graft.similarity.Bm25Store.compact(spark, base)
    graft.similarity.Bm25Store.score(spark, dir, base)
  }

  /** Drain the corpus into a fresh converged BM25 store; returns its
    * base dir (separated from scoring so the compacted/deleted twins
    * and the specs can operate on the store between build and
    * serve). */
  private[graft] def drainBm25(spark: SparkSession, dir: String): String = {
    graft.functions.Native.register(spark)
    val docs = graft.Tables.documents(spark, dir)
    val srcDir = Slices.stage(docs.repartitionByRange(3, col("doc_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("bm25_src"))
    val base = graft.util.Fs.scratch("bm25_store")
    drainBm25Into(spark, srcDir, docs.schema, base)
    base
  }

  /** The drain itself, store root and checkpoint caller-supplied (the
    * live-delete choreography interleaves deletes between drains). */
  private[graft] def drainBm25Into(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, base: String,
      checkpoint: Option[String] = None): Unit =
    Slices.drain(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      graft.similarity.Bm25Store.appendBatch(batch.sparkSession, base, batch, batchId)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_kmv_overlap" -> (streamKmvOverlap _),
    "stream_bm25_postings" -> (streamBm25Postings _),
    "stream_bm25_compacted" -> (streamBm25Compacted _))

  val oracles: Map[String, String] = Map(
    // bottom-k union-merge is associative over any slicing of the
    // corpus, so the batch oracle carries verbatim
    "stream_kmv_overlap" -> KmvOverlap.kmvOverlapOracle,
    // append-only postings partition the corpus by batch, so the
    // one-shot lexical-index oracle carries verbatim
    "stream_bm25_postings" -> graft.similarity.Hybrid.bm25Oracle,
    // compaction is result-invisible: same rows, fewer files
    "stream_bm25_compacted" -> graft.similarity.Hybrid.bm25Oracle)
}
