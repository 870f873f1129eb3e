package graft.similarity

import graft.util.{DeleteLog, ManifestStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** THE persisted BM25 index layout — one deletable, bucketed store
  * behind every lexical-index query: the staged read path
  * (`retrieve_bm25_stored`), the live append twin
  * (`stream_bm25_postings`), its compaction (`stream_bm25_compacted`),
  * the delete repair (`store_delete_bm25`), and the full live
  * choreography (`stream_bm25_deleted`). All four tables are TABLES OF
  * ONE [[ManifestStore]] manifest at the store root:
  *
  *   postings  `tb=<hash(t)%16>/`  (t, doc_id, tf)
  *   dl        `db=<doc_id%16>/`   (doc_id, dl, batch_key)
  *   stats     `db=<doc_id%16>/`   (batch_key, n_docs, tot_tok)
  *   deletes   (the store's [[DeleteLog]])
  *
  *   - TERM-HASH-BUCKETED postings: a delete rewrites touched buckets,
  *     never the store; a query's term probe prunes to its terms'
  *     buckets (static partition pruning — at warehouse scale the
  *     bucket count grows with the corpus, holding per-bucket size
  *     constant, and a query touches O(its terms) buckets).
  *   - NO MATERIALIZED df/idf: idf depends on N, which every delete
  *     moves for EVERY term — and df(t) is the length of t's posting
  *     list, which the query reads IN FULL anyway (the index probe),
  *     so df falls out of the probed rows as a COUNT and idf derives
  *     from (df, N) at query time ([[Hybrid.idfFromDf]]).
  *   - dl carries one row for EVERY document (dl = 0 for a token-less
  *     doc) so N = count(dl) stays exact, plus the BATCH KEY of the
  *     trigger that ingested it.
  *   - stats rows are per-(db, batch_key) PARTIALS: exactly the
  *     count/sum of the CURRENT dl rows of that batch in that bucket.
  *     N and tot_tok are their sums (metadata-sized: buckets ×
  *     batches; the compaction sweep keeps them bounded).
  *
  * ONE COMMIT PER MAINTENANCE OPERATION: an ingest trigger appends its
  * postings/dl/stats deltas in a single manifest version; a delete
  * commits its log append and all three repairs atomically; the sweep
  * flips one snapshot. So
  *   - a reader at ANY instant resolves one committed version across
  *     all four tables — stats can never count docs whose postings
  *     aren't visible (the cross-table torn read of the per-table
  *     protocol), and a crash anywhere leaves the whole operation
  *     un-happened;
  *   - re-delivery idempotence needs ONE gate, not three: the batch is
  *     anti-joined on the stored dl doc_ids (dl is the store's
  *     presence table — one row per doc, and the atomic commit
  *     guarantees a doc's postings/stats landed iff its dl row did),
  *     and the stats delta is derived FROM the gated dl delta — so a
  *     duplicate doc_id arriving under a fresh batch_key cannot
  *     inflate N/avgdl (the ADVICE r17 hole in the per-table
  *     (db, batch_key) stats gate);
  *   - every store-derived frame (the delete-log gate, the presence
  *     anti-join, the repair reads) is built from the publish
  *     builder's snapshot, under the store's writer lease:
  *     read-modify-write serializes against any concurrent
  *     maintenance.
  *
  * Reference: signalk-parquet has no lexical index; this is the
  * LLM-pipeline retrieval leg at its operational composition.
  */
object Bm25Store {

  private val Buckets = 16

  private[graft] val postingsSchema = StructType(Seq(
    StructField("t", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("tb", IntegerType)))
  private[graft] val dlSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("batch_key", LongType), StructField("db", IntegerType)))
  private[graft] val statsSchema = StructType(Seq(
    StructField("batch_key", LongType), StructField("n_docs", LongType),
    StructField("tot_tok", LongType), StructField("db", IntegerType)))

  private def tbOf(t: org.apache.spark.sql.Column) = pmod(hash(t), lit(Buckets))
  private def dbOf(d: org.apache.spark.sql.Column) =
    pmod(d, lit(Buckets.toLong)).cast("int")

  /** A doc batch's (t, doc_id, tf, tb) posting rows. */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("tb", tbOf(col("t")))

  /** A doc batch's dl rows — one per document, 0 for token-less docs
    * (N must count every doc), stamped with the ingesting batch. */
  private def dlOf(docs: DataFrame, toks: DataFrame, batchKey: Long): DataFrame =
    docs.select("doc_id")
      .join(toks.groupBy("doc_id").agg(sum("tf").as("dl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"),
        lit(batchKey).as("batch_key"), dbOf(col("doc_id")).as("db"))

  private def statsOf(dlRows: DataFrame): DataFrame =
    dlRows.groupBy("db", "batch_key")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tok"))
      .select("batch_key", "n_docs", "tot_tok", "db")

  private def collectInts(df: DataFrame, c: String): Seq[Int] =
    df.select(col(c).cast("int")).distinct().collect().map(_.getInt(0)).sorted.toSeq

  // ---------------------------------------------------------------
  // build / clone
  // ---------------------------------------------------------------

  /** One-shot batch build (the staged-store writer): every row under
    * batch_key 0, all three tables in one commit. */
  private[graft] def build(spark: SparkSession, docs: DataFrame,
      base: String): Unit = {
    lazy val toks = tokensOf(docs).localCheckpoint()
    lazy val dl = dlOf(docs, toks, 0L).localCheckpoint()
    ManifestStore.publishOps(spark, base, Seq(
      ManifestStore.replaceTableOp("postings", "tb", () => toks),
      ManifestStore.replaceTableOp("dl", "db", () => dl),
      ManifestStore.replaceTableOp("stats", "db", () => statsOf(dl))))
  }

  /** Clone a staged (immutable, fingerprint-shared) store into a
    * mutable root — one commit. */
  private[graft] def cloneStore(spark: SparkSession, staged: String): String =
    ManifestStore.cloneTables(spark, staged, "bm25_mut", Seq(
      ("postings", "tb", postingsSchema), ("dl", "db", dlSchema),
      ("stats", "db", statsSchema)))

  // ---------------------------------------------------------------
  // live maintenance
  // ---------------------------------------------------------------

  /** One trigger's ingest — ONE atomic commit, idempotent under
    * at-least-once re-delivery (the dl presence gate; stats derived
    * from the gated dl delta) and durable against deletions (the
    * [[DeleteLog]] gate). Cost: O(|batch|) deltas + one bucket-pruned
    * gate read. */
  private[graft] def appendBatch(sp: SparkSession, base: String,
      batchDocs: DataFrame, batchKey: Long): Unit =
    ManifestStore.publishOps(sp, base) { snap =>
      val live = DeleteLog.gate(snap, batchDocs, "doc_id")
      // ONE driver pass collects both touched-bucket sets (the only
      // data-dependent facts the choreography needs); tb/db of
      // re-delivered docs are a harmless superset
      val touched = live
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(dbOf(col("doc_id")).as("db"),
          array_distinct(transform(col("ts"), t => pmod(hash(t), lit(Buckets)))).as("tbs"))
        .groupBy("db").agg(array_distinct(flatten(collect_list("tbs"))).as("tbs"))
        .collect()
      val dbs: Seq[Any] = touched.map(_.getInt(0)).toSeq.sorted
      val tbs: Seq[Any] = touched.flatMap(_.getSeq[Int](1)).distinct.sorted.toSeq
      // the ONE re-delivery gate: dl is the presence table (atomic
      // commits guarantee a doc's postings/stats landed iff its dl row
      // did), so docs the store already holds drop out here — and
      // everything below derives from the gated set, which is what
      // keeps stats exact even for a duplicate doc_id under a fresh
      // batch_key. The read prunes to the batch's own db buckets
      // (static partition pruning on the dl store's db column).
      // Deliberately NOT checkpointed: the three write jobs run in
      // parallel and each re-derives this batch-sized frame — cheaper
      // than an extra materialization job on the per-trigger hot path.
      val gated = live.join(snap.read("dl", dlSchema).where(col("db").isin(dbs: _*))
        .select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "text")
      val toks = tokensOf(gated)
      val dl = dlOf(gated, toks, batchKey)
      Seq(
        ManifestStore.appendOp("postings", "tb", () => tbs, () => toks),
        ManifestStore.appendOp("dl", "db", () => dbs, () => dl),
        ManifestStore.appendOp("stats", "db", () => dbs, () => statsOf(dl)))
    }

  /** Apply a delete set — ONE atomic commit carrying the [[DeleteLog]]
    * append (durable against later ingest) and all three repairs:
    * postings lose the deleted docs' rows (found by re-tokenizing the
    * DELETED docs: delete-batch-sized, the store is never scanned), dl
    * loses their rows, and the touched db buckets' stats RECOUNT from
    * the repaired dl grouped by batch_key (integer-exact, idempotent —
    * a re-run recounts to the same rows, never double-applies a
    * subtraction). */
  private[graft] def delete(spark: SparkSession, base: String,
      delDocs: DataFrame): Unit = {
    val delToks = tokensOf(delDocs).localCheckpoint()
    val delIds = delDocs.select("doc_id").distinct().localCheckpoint()
    val touchedTb = collectInts(delToks, "tb").map(v => v: Any)
    val touchedDb = collectInts(delIds.select(dbOf(col("doc_id")).as("db")), "db")
      .map(v => v: Any)
    val tbIn = col("tb").isin(touchedTb: _*)
    val dbIn = col("db").isin(touchedDb: _*)
    ManifestStore.publishOps(spark, base) { snap =>
      // repaired dl shared by the dl rewrite AND the stats recount:
      // checkpointed once by whichever of the two parallel write jobs
      // gets there first, while the postings and log writes run
      lazy val repairedDl = snap.read("dl", dlSchema).where(dbIn)
        .join(broadcast(delIds), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      Seq(
        DeleteLog.appendOp(snap, delIds, "doc_id"),
        ManifestStore.rewriteOp("postings", "tb", () => touchedTb, () =>
          snap.read("postings", postingsSchema).where(tbIn)
            .join(broadcast(delIds), Seq("doc_id"), "left_anti")),
        ManifestStore.rewriteOp("dl", "db", () => touchedDb, () => repairedDl),
        // recount (not subtract) the touched buckets' partials from the
        // REPAIRED dl, batch keys preserved
        ManifestStore.rewriteOp("stats", "db", () => touchedDb, () =>
          statsOf(repairedDl)))
    }
  }

  /** The scheduled small-file sweep (per-trigger appends leave one
    * file set per (trigger, bucket)): each bucket collapses to one
    * sorted file — all tables, and the delete log's fold, in ONE
    * snapshot flip. */
  private[graft] def compact(spark: SparkSession, base: String): Unit =
    ManifestStore.publishOps(spark, base) { snap =>
      Seq(
        ManifestStore.compactOp(spark, base, "postings", "tb",
          Seq("t", "doc_id"), postingsSchema),
        ManifestStore.compactOp(spark, base, "dl", "db",
          Seq("doc_id"), dlSchema),
        ManifestStore.compactOp(spark, base, "stats", "db",
          Seq("batch_key"), statsSchema)) ++
        DeleteLog.foldOps(snap, "doc_id")
    }

  // ---------------------------------------------------------------
  // query
  // ---------------------------------------------------------------

  /** Score the standard probes from the store — read off ONE
    * [[ManifestStore.snapshot]], so stats, postings and dl are the
    * same committed version even while maintenance runs. The probe
    * reads ONLY its terms' buckets (static partition pruning on tb);
    * df(t) falls out of the probed posting lists as a count; N/avgdl
    * are the sums of the metadata-sized stats partials; idf derives
    * from (df, N) at query time — so every statistic is exact over
    * whatever append/delete history produced the store. An empty (or
    * fully deleted) store scores to an empty ranking. */
  private[graft] def score(spark: SparkSession, dir: String,
      base: String): DataFrame = {
    graft.functions.Native.register(spark)
    val snap = ManifestStore.snapshot(spark, base)
    val st = snap.read("stats", statsSchema)
      .agg(coalesce(sum("n_docs"), lit(0L)), coalesce(sum("tot_tok"), lit(0L)))
      .head()
    val (nDocs, totTok) = (st.getLong(0), st.getLong(1))
    val probeTerms = Hybrid.probeTermsOf(spark, dir)
    val qTerms = probeTerms.select("t").distinct()
    // query-term buckets are driver-computable (hash of the query's
    // own literals) — the probed scan lists only those tb= dirs
    val bkts = qTerms.select(tbOf(col("t")).as("tb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val probed = snap.read("postings", postingsSchema)
      .where(col("tb").isin(bkts.map(v => v: Any): _*))
      .join(broadcast(qTerms), Seq("t"))
      .drop("tb")
      .localCheckpoint() // probe-list-sized; feeds df AND the scoring
    val dfTab = probed.groupBy("t").agg(count(lit(1)).as("df"))
    Hybrid.bm25FromTables(spark, dir, probed,
      snap.read("dl", dlSchema).select("doc_id", "dl"),
      Hybrid.idfFromDf(dfTab, nDocs), nDocs, totTok)
  }
}
