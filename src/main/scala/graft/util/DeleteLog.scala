package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The persisted DELETE LOG of a live-maintained store — what makes a
  * deletion DURABLE against the store's own ingest: a GDPR/retention
  * delete must hold even for ids that arrive (or re-arrive) AFTER the
  * delete was applied, so every ingest batch is anti-joined against
  * the log before it touches the store. Without this, the production
  * sequence "triggers → delete → more triggers" silently resurrects
  * any deleted id whose source row lands in a later batch.
  *
  * The log is a TABLE of the store's own [[ManifestStore]] manifest
  * (`deletes`, one id column) — not a raw side directory: its appends
  * ride the SAME atomic publish as the repairs they accompany (a
  * delete either fully lands — log and every touched table — or not
  * at all), its reads are snapshot-isolated like every other table,
  * and it participates in the store's compaction discipline. Appends
  * FOLD the log into one file whenever it reaches [[FoldAt]] files
  * (and every store sweep folds it too), so the file count stays
  * bounded at a real GDPR cadence: O(FoldAt), never O(deletes issued).
  * The content stays delete-set-sized, never corpus-sized, and the
  * gate is a broadcast anti-join: O(|batch|) per trigger. Appends are
  * idempotent in effect (the log is read as a SET; a crashed delete's
  * re-run appending the same ids changes nothing).
  */
object DeleteLog {

  private[graft] val Table = "deletes"

  /** Fold-to-one-file threshold: the log's committed file count never
    * exceeds this (spec-pinned across a long delete sequence). */
  private[graft] val FoldAt = 8

  private def schemaOf(idCol: String) =
    StructType(Seq(StructField(idCol, LongType)))

  /** The deleted-id set at `snap`, or None when nothing was ever
    * deleted. */
  def ids(snap: ManifestStore.Snapshot, idCol: String): Option[DataFrame] =
    if (snap.tableFiles(Table).isEmpty) None
    else Some(snap.read(Table, schemaOf(idCol)).distinct())

  /** Gate an ingest batch: drop every row whose `idCol` the log at
    * `snap` holds. */
  def gate(snap: ManifestStore.Snapshot, batch: DataFrame, idCol: String): DataFrame =
    ids(snap, idCol) match {
      case Some(del) => batch.join(
        org.apache.spark.sql.functions.broadcast(del), Seq(idCol), "left_anti")
      case None => batch
    }

  /** The log's contribution to a delete's atomic publish: append
    * `delIds` (a single-column frame) as one new file — or, when the
    * log at `snap` has reached [[FoldAt]] files, FOLD stored ∪ new
    * into one (replace), keeping the file count bounded. `snap` is the
    * publish builder's snapshot, so the fold decision is taken under
    * the lease and the [[FoldAt]] bound is exact, cross-process
    * included. */
  def appendOp(snap: ManifestStore.Snapshot, delIds: DataFrame,
      idCol: String): ManifestStore.TableOp =
    if (snap.tableFiles(Table).size + 1 > FoldAt)
      ManifestStore.replaceTableOp(Table, "", () =>
        snap.read(Table, schemaOf(idCol)).unionByName(delIds.toDF(idCol)).distinct())
    else
      ManifestStore.appendOp(Table, "", () => Nil, () => delIds.toDF(idCol).distinct())

  /** The sweep's fold: the log at `snap` rewritten as one file, or
    * nothing when the store has no log. */
  def foldOps(snap: ManifestStore.Snapshot, idCol: String): Seq[ManifestStore.TableOp] =
    if (snap.tableFiles(Table).isEmpty) Seq.empty
    else Seq(ManifestStore.replaceTableOp(Table, "", () =>
      snap.read(Table, schemaOf(idCol)).distinct()))

  /** Record `ids` as deleted in a standalone publish (delete flows
    * that also repair tables fold [[appendOp]] into their own publish
    * instead, making log + repair one atomic commit). */
  def append(spark: SparkSession, store: String, delIds: DataFrame,
      idCol: String): Unit =
    ManifestStore.publishOps(spark, store)(snap => Seq(appendOp(snap, delIds, idCol)))
}
