package graft.streaming

import graft.similarity.{Embeddings, StoredIndex}
import graft.util.{DeleteLog, ManifestStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live IVFADC index maintenance — the streaming twin of
  * [[StoredIndex.annIvfPqStored]], closing the one index family that
  * still had a rebuild-only store: a 100 TB/day embedding feed cannot
  * re-stage the corpus per day, it appends each batch's cell
  * assignments and PQ codes into the persisted cell-partitioned store.
  *
  * Shape: the append-merge class ([[KmvStream.streamBm25Postings]]'s
  * postings discipline, SURVEY 42s) applied to a vector index.
  *   - The quantizers are TRAINED ONCE and frozen ([[bootstrap]]:
  *     coarse centroids + PQ codebook from the training slice, committed
  *     once as store tables) — production IVF maintenance never retrains
  *     per append, it assigns new vectors against the fixed quantizers
  *     (FAISS `add` vs `train`; Jégou et al. 2011 §IV).
  *   - Each micro-batch reduces to its OWN index delta
  *     ([[StoredIndex.indexDelta]]: per-vector argmin cell + 8
  *     subspace codes — map-side `min_by` collapses, batch-sized).
  *   - Appends are collision-free (vec_ids are append-only, so new
  *     (bucket, neighbor_id) keys never overlap stored ones) and the
  *     per-vector argmins don't depend on batch slicing — which is why
  *     the drained store is BIT-IDENTICAL to the one-shot staged build
  *     (AnnStreamSpec pins both the store contents and the search
  *     output against [[StoredIndex.annIvfPqStored]]) and the
  *     full-recompute `ann_ivfpq_topk` oracle carries over verbatim.
  *
  * The store is the one IVFADC layout ([[StoredIndex]]): quantizers,
  * lists and codes are TABLES OF ONE [[graft.util.ManifestStore]]
  * manifest at the store root, and every append/sweep is a single
  * snapshot-isolated commit spanning lists AND codes, so a query between (or DURING)
  * maintenance operations reads one committed index state across both
  * tables — never a half-appended batch, never a mid-compaction
  * window, never lists at v+1 with codes at v (a vector whose
  * sub-codes aren't visible yet cannot fall out of the ADC join). The
  * nprobe dynamic-partition-pruning read shape is unchanged (the
  * manifest read keeps the `bucket=<cell>/` partition columns;
  * plan-pinned).
  *
  * Store growth is corpus-proportional (it IS the index; 9 rows per
  * vector), never throughput-bounded; per-trigger cost is
  * O(|batch| · K) assignment work with ≤ one shuffle of batch size.
  *
  * Reference: signalk-parquet has no vector index; this is the
  * training-pipeline extension's operational leg.
  */
object AnnStream {

  // -------------------------------------------------------------- #113
  def streamAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val emb = graft.Tables.embeddings(spark, dir)
    // three vec_id-range slices, one file per trigger (slice order is
    // immaterial: per-vector assignment is independent of batching)
    val srcDir = Slices.stage(emb.repartitionByRange(3, col("vec_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("ann_src"))
    val base = graft.util.Fs.scratch("ann_store")
    bootstrap(spark, dir, base)
    buildStore(spark, srcDir, emb.schema, base)
    StoredIndex.search(spark, dir, base)
  }

  /** Bootstrap a live index store at `base`: the frozen quantizers,
    * trained once on `dir`'s training slice
    * ([[StoredIndex.quantizers]]), committed as the store's `centroids`
    * and `codebook` tables — the trained index metadata a real
    * deployment ships before ingest starts. Run once per store; every
    * later drain assigns against these committed tables. */
  private[graft] def bootstrap(spark: SparkSession, dir: String, base: String): Unit = {
    val (centroids, codebook) = StoredIndex.quantizers(Embeddings.vecs(spark, dir))
    ManifestStore.publishOps(spark, base, Seq(
      ManifestStore.replaceTableOp("centroids", "", () => centroids),
      ManifestStore.replaceTableOp("codebook", "", () => codebook)))
  }

  /** Drain `srcDir` into the bootstrapped store at `base`: one delta
    * append per trigger. Exposed separately so the spec can compare
    * the drained store against the one-shot build file-for-file. Every
    * path (`base`, `srcDir`, `checkpoint`) is written through Spark's
    * Hadoop filesystem layer, so the store may live on any registered
    * scheme — FsPortabilitySpec drains this builder over a non-default
    * `graftfs:` root. */
  private[graft] def buildStore(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, base: String,
      checkpoint: Option[String] = None): Unit =
    Slices.drain(spark, srcDir, schema, checkpoint) { (batch, _) =>
      ingestBatch(batch.sparkSession, base, batch)
    }

  /** One trigger's ingest — ONE atomic publish spanning lists AND
    * codes, IDEMPOTENT under micro-batch re-delivery and durable
    * against deleted ids:
    *   - the batch is gated on the store's [[DeleteLog]] (a table of
    *     the same manifest) — an id deleted BEFORE its source row
    *     (re-)arrives must never enter the index (the triggers →
    *     delete → triggers sequence);
    *   - foreachBatch runs at-least-once (a crash after a commit but
    *     before the checkpoint commit re-runs the same batch), so the
    *     delta is anti-joined against the vectors the store already
    *     holds IN THE DELTA'S OWN CELLS — a bounded cell-pruned read.
    *     ONE gate on the lists rows suffices for both tables: lists
    *     and codes commit in the same manifest version, so the store
    *     can never hold a vector's lists row without its 8 code rows
    *     (the partial-codes-commit corruption the old per-table
    *     protocol had to gate on (neighbor_id, sub) is structurally
    *     impossible — a crash anywhere leaves BOTH tables at the old
    *     version, and the re-run re-appends the whole vector);
    *   - everything store-derived (the committed quantizers, the
    *     delete-log gate, the re-delivery anti-join) is built from the
    *     publish builder's snapshot, under the store lease:
    *     read-modify-write is serializable against any concurrent
    *     maintenance.
    * AnnStreamSpec pins double delivery ≡ single delivery and the
    * mid-publish-crash reader. */
  private[graft] def ingestBatch(sp: SparkSession, base: String,
      batch: DataFrame): Unit = {
    graft.functions.Native.register(sp)
    ManifestStore.publishOps(sp, base) { snap =>
      // The assignment is checkpointed ONCE inside indexDelta; the
      // re-delivery anti-join is deliberately not (the two write jobs
      // run in parallel and each re-derives it from the checkpointed
      // delta — cheaper than another materialization job on the
      // per-trigger hot path).
      val (cents, cb) = StoredIndex.quantizersAt(snap)
      val live = DeleteLog.gate(snap, batch, "vec_id")
      val (deltaL, codes) = StoredIndex.indexDelta(Embeddings.vecsOf(live), cents, cb)
      val bkts = deltaL.select("bucket").distinct().collect().map(_.get(0)).toSeq
      val gatedL =
        if (bkts.isEmpty) deltaL
        else deltaL.join(snap.read("lists", StoredIndex.listsSchema)
          .where(col("bucket").isin(bkts: _*)).select("neighbor_id"),
          Seq("neighbor_id"), "left_anti")
      val gatedC = codes.join(gatedL.select("neighbor_id"), Seq("neighbor_id"), "left_semi")
      Seq(
        ManifestStore.appendOp("lists", "bucket", () => bkts, () => gatedL),
        ManifestStore.appendOp("codes", "bucket", () => bkts, () => gatedC))
    }
  }

  // ------------------------------------------------------------- #113b
  /** The live store COMPACTED through the named maintenance seam and
    * searched: per-trigger appends leave one file pair per (trigger,
    * cell) — at a day of triggers that is the small-file pathology the
    * reference schedules compaction against (compaction-service.ts) —
    * so the scheduled sweep is [[ManifestStore.compact]] over `lists`
    * and `codes`: each `bucket=<cell>/` dir collapses to one
    * neighbor-sorted file while KEEPING the cell layout (the nprobe
    * dynamic partition pruning survives — plan-pinned in
    * AnnStreamSpec), and the sweep publishes as ONE snapshot flip, so
    * a search concurrent with it reads the previous committed index
    * in full (spec-exercised via the injected mid-publish crash).
    * Result-invisible by contract: the same full-recompute IVFADC
    * oracle gates the search over the compacted store. */
  def streamAnnIvfPqCompacted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val emb = graft.Tables.embeddings(spark, dir)
    val srcDir = Slices.stage(emb.repartitionByRange(3, col("vec_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("annc_src"))
    val base = graft.util.Fs.scratch("annc_store")
    bootstrap(spark, dir, base)
    buildStore(spark, srcDir, emb.schema, base)
    compactIndexStore(spark, base)
    StoredIndex.search(spark, dir, base)
  }

  /** The scheduled small-file sweep over a live index store: each cell
    * dir collapses to one file sorted by neighbor id (tight row-group
    * stats for the candidate equi-join), BOTH tables (and the delete
    * log's fold, when one exists) in one snapshot flip. */
  private[graft] def compactIndexStore(spark: SparkSession, base: String): Unit =
    ManifestStore.publishOps(spark, base) { snap =>
      Seq(
        ManifestStore.compactOp(spark, base, "lists", "bucket",
          Seq("neighbor_id"), StoredIndex.listsSchema),
        ManifestStore.compactOp(spark, base, "codes", "bucket",
          Seq("neighbor_id", "sub"), StoredIndex.codesSchema)) ++
        DeleteLog.foldOps(snap, "vec_id")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ann_ivfpq" -> (streamAnnIvfPq _),
    "stream_ann_ivfpq_compacted" -> (streamAnnIvfPqCompacted _))

  /** Append-only per-vector assignment against frozen quantizers is
    * slicing-invariant, and compaction is result-invisible, so the
    * full-recompute IVFADC oracle carries over verbatim to both. */
  val oracles: Map[String, String] = Map(
    "stream_ann_ivfpq" -> Embeddings.annIvfPqTopKOracle,
    "stream_ann_ivfpq_compacted" -> Embeddings.annIvfPqTopKOracle)
}
