package graft.similarity

import graft.Tables
import graft.sources.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion with DERIVED-INDEX REPAIR — the missing half of retention.
  * The event store already has `sk_retention_sweep` (the reference's
  * per-path retention policy, signalk-parquet
  * utils/retention-rules.ts:1-34, deletes raw partitions); but a
  * GDPR delete or a retention cut on a 100 TB embedding/document
  * corpus must ALSO repair every derived store that memorized the
  * deleted rows: the BM25 postings (and the df counts behind idf),
  * the IVFADC cell lists + PQ codes, and the kNN directed
  * neighbor lists (a deleted vector may BE someone's 3rd-nearest
  * neighbor). Three gated operators, one per store family, all on the
  * same touched-partition discipline as the tier-correction path
  * (9d/42i) and the streaming graph swap (33h):
  *
  *   - the delete set is BATCH-sized (ids); everything derived from it
  *     (touched cells, touched labels, touched term buckets) is
  *     delete-batch-sized — the corpus-scale store is never scanned,
  *     only its touched partitions are listed, read and rewritten;
  *   - each delete is ONE atomic [[graft.util.ManifestStore]] publish
  *     spanning the store's [[graft.util.DeleteLog]] append and every
  *     touched table's rewrite: readers concurrent with the repair
  *     see the old or the new committed store in full — across ALL
  *     tables, never lists repaired ahead of codes — and a crashed
  *     delete leaves the whole operation un-happened (the delete set
  *     is a pure predicate; the re-run redoes it, re-deleting
  *     already-absent rows as no-ops, and the crashed attempt's
  *     uncommitted files are invisible orphans the re-run clears);
  *   - the logged ids gate the live ingest path
  *     ([[graft.streaming.AnnStream]], [[graft.streaming.GraphStream]],
  *     [[Bm25Store.appendBatch]]) against later-arriving batches —
  *     a deleted id stays deleted even if its source row re-arrives;
  *   - repair is EXACT, not tombstoning: the contract (and the
  *     oracle) is that every post-delete answer equals a FRESH build
  *     from the surviving corpus. That holds bit-for-bit because the
  *     quantizers and codebooks are frozen functions of a fixed training
  *     slice that the delete set is disjoint from (the FAISS
  *     `remove_ids` discipline: deletion drops index entries, it
  *     never retrains — a drifted survivor distribution is the
  *     [[IndexRefresh]] alarm's job, not the delete path's).
  *
  * Per-store repair cost:
  *   - IVFADC: assign the deleted vectors against the frozen coarse
  *     centroids (O(|delete| · K)) → their cells are the only
  *     lists/codes partitions rewritten; nprobe DPP layout survives.
  *   - kNN graph: deletions cannot cross label blocks, so only the
  *     deleted vectors' label partitions are touched; inside one,
  *     survivors whose top-5 contains a deleted neighbor are
  *     RESCORED against the surviving block (they lost a list entry
  *     and the replacement can be any block survivor — the one
  *     genuinely super-linear step, O(|affected| · block), the exact
  *     price of not storing a top-(k+buffer) slack list); untouched
  *     survivors' lists carry through unchanged (dropping candidates
  *     that were NOT in a top-5 cannot change that top-5).
  *   - BM25: the deleted docs are re-tokenized (delete-batch-sized —
  *     postings are term-partitioned, so a doc's rows are findable
  *     only through its own terms); their (term, doc) rows drop from
  *     the touched term buckets, and every derived count — per-term
  *     df, the per-bucket dl rows, the corpus stats partials —
  *     RECOUNTS from the repaired primary rows at touched-bucket
  *     granularity (integer-exact, and idempotent where a per-term
  *     subtraction would double-apply on a crash re-run). idf is
  *     deliberately NOT stored: it depends on N, which a delete moves
  *     for EVERY term — the store keeps the integer df and derives
  *     idf at query time ([[Hybrid.idfFromDf]], vocabulary-sized).
  *
  * Demo delete sets (deterministic, oracle-mirrored): vectors
  * `vec_id % 17 = 14` — disjoint from the probes (vec_id < 5) and the
  * frozen training slice (100–115, whose residues mod 17 never hit
  * 14); documents `doc_id % 13 = 5` — disjoint from the BM25 probes
  * (0–2). In production the set is whatever ids the retention sweep
  * or the deletion request carries.
  */
object DeleteRepair {

  private[graft] val delVecPred = pmod(col("vec_id"), lit(17L)) === 14L
  private[graft] val delDocPred = pmod(col("doc_id"), lit(13L)) === 5L

  private def collectInts(df: DataFrame, c: String): Seq[Int] =
    df.select(col(c).cast("int")).distinct().collect().map(_.getInt(0)).sorted.toSeq

  // ------------------------------------------------------------- #117
  /** Gated end-to-end: clone the staged IVFADC index into a mutable
    * root, apply the delete with touched-cell repair
    * ([[StoredIndex.delete]]), search. Must equal the fresh-build
    * oracle on the surviving corpus — exact because the frozen
    * quantizers are disjoint from the delete set, so fresh lists/codes
    * over survivors ARE the old tables minus the deleted rows. */
  def storeDeleteIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val base = StoredIndex.cloneStore(spark, StoredIndex.stageIvfPq(spark, dir))
    StoredIndex.delete(spark, base, Embeddings.vecs(spark, dir).where(delVecPred))
    StoredIndex.search(spark, dir, base)
  }

  // ------------------------------------------------------------- #118
  // kNN graph: drop deleted lists, rescore survivors that lost a
  // neighbor, carry the rest — touched label partitions only
  // ---------------------------------------------------------------

  /** Stage the DIRECTED top-5 list store + label-partitioned vector
    * store once per (fingerprint, sf dir) — the persisted state the
    * delete repairs (the [[graft.streaming.GraphStream]] store shape,
    * built one-shot at ingest). */
  private[graft] def stageDirectedTopk(spark: SparkSession, dir: String): String =
    Staging.stagedDir("graft_knn_directed", dir, "v3:k5:store-manifest", "embeddings") { root =>
      graft.functions.Native.register(spark)
      val e = Embeddings.vecs(spark, dir)
      graft.util.ManifestStore.publishOps(spark, root, Seq(
        graft.util.ManifestStore.replaceTableOp("topk", "label", () =>
          KnnGraph.directedTopk(KnnGraph.scoredPairs(
            KnnGraph.srcSide(e), KnnGraph.dstSide(e)))),
        graft.util.ManifestStore.replaceTableOp("vecs", "label", () => e)))
    }

  /** Apply the delete set to a directed-list store at `base`. Only the
    * deleted vectors' label partitions are read (static partition
    * pruning) and rewritten; within one, survivors with a deleted
    * neighbor in their top-5 rescore against the surviving block, the
    * rest carry through verbatim. */
  private[graft] def deleteFromGraph(spark: SparkSession, base: String,
      delVecs: DataFrame): Unit = {
    graft.functions.Native.register(spark)
    import graft.streaming.GraphStream
    import graft.util.{DeleteLog, ManifestStore}
    val del = delVecs.select("vec_id", "label").localCheckpoint()
    val touched = collectInts(del, "label").map(v => v: Any)
    val touchedOnly = col("label").isin(touched: _*)
    val delIds = del.select("vec_id")
    // ONE atomic publish: the log append (durable against later
    // ingest), the touched labels' list repair and the vector-store
    // repair — a reader at any instant sees one committed version
    // across all three tables, and a crashed delete re-runs as a
    // whole (re-deleting absent rows and re-scoring already-repaired
    // lists are no-ops). Store reads come off the builder's snapshot
    // (under the lease), so read-modify-write is serializable.
    ManifestStore.publishOps(spark, base) { snap =>
      // the touched labels' stored lists, deleted sources dropped
      val surv = snap.read("topk", GraphStream.topkSchema).where(touchedOnly)
        .join(broadcast(delIds.withColumnRenamed("vec_id", "src_id")),
          Seq("src_id"), "left_anti")
        .select("label", "src_id", "dst_id", "cos", "rank")
        .localCheckpoint() // consumed three times below
      // sources that LOST a neighbor — the only lists whose content moves
      val affected = surv
        .join(broadcast(delIds.withColumnRenamed("vec_id", "dst_id")),
          Seq("dst_id"), "left_semi")
        .select("label", "src_id").distinct()
      val carried = surv.join(broadcast(affected), Seq("label", "src_id"), "left_anti")
      // surviving block vectors of the touched labels (store-read arrays
      // re-densified for the scoring kernels)
      val survVecsRaw = snap.read("vecs", GraphStream.vecsSchema).where(touchedOnly)
        .join(broadcast(delIds), Seq("vec_id"), "left_anti")
        .localCheckpoint() // consumed by the rescore AND the vecs rewrite
      val survVecs = survVecsRaw.select(col("vec_id"), col("label"),
        expr("graft_dense(v)").as("v"), col("norm2"))
      val affVecs = survVecs.join(
        broadcast(affected.withColumnRenamed("src_id", "vec_id").select("vec_id")),
        Seq("vec_id"), "left_semi")
      val rescored = KnnGraph.directedTopk(KnnGraph.scoredPairs(
          KnnGraph.srcSide(affVecs), KnnGraph.dstSide(survVecs)))
        .select("label", "src_id", "dst_id", "cos", "rank")
      Seq(
        DeleteLog.appendOp(snap, delIds, "vec_id"),
        ManifestStore.rewriteOp("topk", "label", () => touched, () =>
          carried.unionByName(rescored)),
        ManifestStore.rewriteOp("vecs", "label", () => touched, () => survVecsRaw))
    }
  }

  /** Gated end-to-end: clone the staged directed store, delete with
    * touched-label repair, serve the mutual-kNN edges. Equals the
    * fresh mutual-kNN build on the surviving corpus: rescored lists
    * are exact by construction, carried lists because dropping
    * candidates outside a top-5 cannot change it, and other labels
    * because candidates never cross label blocks. */
  def storeDeleteKnn(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val staged = stageDirectedTopk(spark, dir)
    val base = cloneGraph(spark, staged)
    deleteFromGraph(spark, base, Embeddings.vecs(spark, dir).where(delVecPred))
    KnnGraph.mutualEdges(graft.streaming.GraphStream.readTopk(spark, base))
      .orderBy("id_a", "id_b")
  }

  /** Clone the staged directed-list store into a mutable store root —
    * both tables in one manifest commit. */
  private[graft] def cloneGraph(spark: SparkSession, staged: String): String =
    graft.util.ManifestStore.cloneTables(spark, staged, "del_knn", Seq(
      ("topk", "label", graft.streaming.GraphStream.topkSchema),
      ("vecs", "label", graft.streaming.GraphStream.vecsSchema)))

  // ------------------------------------------------------------- #119
  // BM25: touched-term-bucket postings repair + derived recounts —
  // the whole store discipline lives in [[Bm25Store]] (ONE layout
  // shared with the staged read path and the live append twin)
  // ---------------------------------------------------------------

  /** Gated end-to-end: clone the STAGED converged BM25 store (the same
    * one `retrieve_bm25_stored` serves from), apply the delete with
    * touched-bucket repair, score the standard probes. Equals the
    * fresh BM25 build on the surviving corpus: postings/dl rows are
    * the survivors' rows, the stats partials are recounts of those
    * rows, and df/idf re-derive from the probed posting lists and
    * (df, N) through the same expressions both builds share. */
  def storeDeleteBm25(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val base = Bm25Store.cloneStore(spark, Hybrid.stageBm25(spark, dir))
    Bm25Store.delete(spark, base, Tables.documents(spark, dir).where(delDocPred))
    Bm25Store.score(spark, dir, base)
  }

  // ---------------------------------------------------------------
  // oracles: the UNCHANGED full-recompute SQL of each family with its
  // corpus CTE filtered to the survivors — generated by rewrite so the
  // index arithmetic can never fork from the gated twins.
  // ---------------------------------------------------------------

  private def survivorsVecRewrite(oracle: String): String = {
    val prefix = s"WITH e AS (${Embeddings.vecsSql}),"
    require(oracle.startsWith(prefix),
      "oracle shape changed — update the survivor rewrite")
    s"""WITH e0 AS (${Embeddings.vecsSql}),
       |e AS (SELECT * FROM e0 WHERE vec_id % 17 <> 14),""".stripMargin +
      oracle.stripPrefix(prefix)
  }

  private[graft] val storeDeleteIvfPqOracle: String =
    survivorsVecRewrite(Embeddings.annIvfPqTopKOracle)

  private[graft] val storeDeleteKnnOracle: String =
    survivorsVecRewrite(KnnGraph.knnGraphOracle)

  private[graft] val storeDeleteBm25Oracle: String = {
    require(Hybrid.bm25Oracle.startsWith("WITH tok AS ("),
      "bm25 oracle shape changed — update the survivor rewrite")
    "WITH docs AS (SELECT * FROM documents WHERE doc_id % 13 <> 5),\n" +
      Hybrid.bm25Oracle.stripPrefix("WITH ").replace("FROM documents", "FROM docs")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_delete_ivfpq" -> (storeDeleteIvfPq _),
    "store_delete_knn" -> (storeDeleteKnn _),
    "store_delete_bm25" -> (storeDeleteBm25 _))

  val oracles: Map[String, String] = Map(
    "store_delete_ivfpq" -> storeDeleteIvfPqOracle,
    "store_delete_knn" -> storeDeleteKnnOracle,
    "store_delete_bm25" -> storeDeleteBm25Oracle)
}
