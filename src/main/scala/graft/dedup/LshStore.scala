package graft.dedup

import graft.Tables
import graft.sources.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED form of the LSH dedup index — the steady-state read
  * path [[Dedup.minHashLshIncremental]]'s scaladoc promises ("in
  * production its signatures/bands are computed once at ingest and
  * persisted") but, until round 13, every gated run recomputed the
  * store's 128-perm signatures from raw text. Here the store-side band
  * table (doc_id ≥ 50 — the persistent corpus) is staged to parquet
  * once at "ingest" as a column-pruned (store_id, band_idx, band_key)
  * table, and the per-batch query SCANS it: the plan computes
  * signatures ONLY for the new batch (doc_id < 50) and fetches store
  * text only for verified candidates (a broadcast semi-join on
  * O(matches) ids — the by-id row lookup a corpus store serves).
  * StoredIndexSpec pins that the store branch is a parquet scan of the
  * staged path with zero signature arithmetic on it.
  *
  * Cost per ingest batch: O(|batch| signatures + matches verifies +
  * one band-pruned index probe) — never O(|store|). At warehouse
  * scale the band table is bucketed by (band_idx, band_key) so the
  * probe is a bucket-pruned lookup; new batches APPEND their own band
  * rows after dedup, keeping the index current (the reference's
  * parquet-writer appends exactly this way for its stream stores —
  * parquet-writer.ts; the LSH index is the training-pipeline
  * extension of that persisted-derived-table pattern).
  *
  * Oracle: the exact batch × store answer — identical SQL to
  * `dedup_incremental_lsh`, because the staged index must be
  * result-invisible (it is a deterministic function of the corpus:
  * same splitmix64 permutation coefficients, same banding).
  */
object LshStore {

  // --------------------------------------------------------------- #31b
  /** Stage the store-side band table once per (fingerprint, sf dir). */
  private[graft] def stageBandStore(spark: SparkSession, dir: String): String =
    Staging.stagedDir("graft_lsh_bands", dir, "v1:minhash128:b16r8:store>=50", "documents") { root =>
      graft.functions.Native.register(spark)
      Dedup.bandRows(Tables.documents(spark, dir).where(col("doc_id") >= 50))
        .toDF("store_id", "band_idx", "band_key")
        .write.parquet(root)
    }

  /** The candidate probe against the stored index, un-checkpointed —
    * split out so StoredIndexSpec can pin ITS plan (the production
    * query localCheckpoints it, which collapses the upstream into a
    * LogicalRDD and hides the scan from the visible plan). */
  private[graft] def candidates(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val storeBands = spark.read.parquet(stageBandStore(spark, dir))
    // the ONLY signature computation in the plan: the new batch
    val batch = Dedup.bandRows(
        Tables.documents(spark, dir).where(col("doc_id") < 50))
      .toDF("batch_id", "band_idx", "band_key")
    // batch band keys broadcast into the index probe — the store side
    // is touched band-pruned only (at scale: bucket-pruned)
    broadcast(batch).join(storeBands, Seq("band_idx", "band_key"))
      .select("batch_id", "store_id").distinct()
  }

  /** Incremental near-dup dedup against the STORED index: same output
    * contract as `dedup_incremental_lsh` (batch_id, store_id, jaccard). */
  def incrementalLshStored(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    Dedup.incrementalPairs(Tables.documents(spark, dir),
      candidates(spark, dir).localCheckpoint())
  }

  // --------------------------------------------------------------- #31c
  /** Stage the FULL-corpus near-dup index once per (fingerprint, dir):
    * the signature-derived membership/rep-band tables
    * ([[Dedup.lshIndex]]) plus the tokenized corpus — everything the
    * pair report consumes, so the report itself runs with ZERO
    * token/signature arithmetic (SURVEY 29b's "signatures persisted at
    * ingest in production", now the batch operator's own steady
    * state). */
  private[graft] def stageFullLsh(spark: SparkSession, dir: String): String =
    Staging.stagedDir("graft_lsh_full", dir, "v1:minhash128:b16r8:membership+repbands+toks", "documents") { root =>
      graft.functions.Native.register(spark)
      val docs = Tables.documents(spark, dir)
      val idx = Dedup.lshIndex(docs)
      idx.membership.write.parquet(s"$root/membership")
      idx.repBands.write.parquet(s"$root/repbands")
      docs.select(col("doc_id"), Dedup.tokens.as("toks"))
        .write.parquet(s"$root/toks")
    }

  /** Full-corpus near-dup pair report from the STAGED index: same
    * output contract and oracle as `dedup_minhash_lsh`; the query path
    * scans membership/repbands/toks only (plan-pinned: no
    * graft_polyhash, no documents.parquet anywhere in the plan). */
  def minHashLshStored(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val root = stageFullLsh(spark, dir)
    val idx = Dedup.LshIndex(
      spark.read.parquet(s"$root/membership"),
      spark.read.parquet(s"$root/repbands"))
    Dedup.pairsFromIndex(idx, spark.read.parquet(s"$root/toks"))
      .orderBy("id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental_lsh_stored" -> (incrementalLshStored _),
    "dedup_minhash_lsh_stored" -> (minHashLshStored _))

  /** The store is result-invisible: same exact batch × store SQL as
    * dedup_incremental_lsh. */
  val oracles: Map[String, String] = Map(
    "dedup_incremental_lsh_stored" -> Dedup.minHashLshIncrementalOracle,
    // result-invisible store: the inline operator's exact O(n²) oracle
    "dedup_minhash_lsh_stored" -> Dedup.minHashLshOracle)
}
