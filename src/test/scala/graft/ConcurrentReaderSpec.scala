package graft

import graft.similarity.{DeleteRepair, Embeddings, StoredIndex}
import graft.streaming.AnnStream
import graft.util.ManifestStore
import org.apache.spark.sql.functions._

/** The crash-injection specs pin what a reader sees at a FROZEN point
  * inside a publish; this spec closes the loop with an actual
  * interleaved reader: a thread looping committed snapshot reads WHILE
  * the production maintenance sequence runs (ingest triggers → a GDPR
  * delete → another trigger → the compaction sweep). The isolation
  * contract under test: every successful read reflects ONE committed
  * version across every table of the store — never lists without their
  * codes (torn), never an empty store, never a half-applied delete.
  * The documented grace rule is also exercised: a reader more than two
  * publishes stale can lose a file to GC mid-scan — it re-resolves and
  * retries, which is exactly what a per-query snapshot resolution does
  * in production. */
class ConcurrentReaderSpec extends SparkSpec {

  private def isStaleRead(e: Throwable): Boolean = {
    var t = e; var depth = 0
    while (t != null && depth < 12) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null && (t.getMessage.contains("FileNotFound") ||
          t.getMessage.contains("does not exist")))) return true
      t = t.getCause; depth += 1
    }
    false
  }

  test("a reader looping snapshot reads during triggers + delete + compaction never observes a torn or empty store") {
    graft.functions.Native.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft_stress").toString
    AnnStream.bootstrap(spark, sfDir, base)
    // bootstrap so the reader never legitimately sees an empty store
    AnnStream.ingestBatch(spark, base, emb.where(col("vec_id") < 30))

    @volatile var stop = false
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // production read shape: resolve ONE snapshot, read every
          // table from it
          val snap = ManifestStore.snapshot(spark, base)
          val lists = snap.read("lists", StoredIndex.listsSchema).collect()
          val codes = snap.read("codes", StoredIndex.codesSchema).collect()
          if (lists.isEmpty)
            torn.add(s"v${snap.version}: empty store")
          else {
            if (codes.length != 8 * lists.length)
              torn.add(s"v${snap.version}: ${codes.length} code rows for " +
                s"${lists.length} list rows (torn cross-table read)")
            val lid = lists.map(_.getLong(0)).toSet
            val cid = codes.map(_.getLong(0)).toSet
            if (lid != cid)
              torn.add(s"v${snap.version}: lists/codes id sets diverge " +
                s"(${(lid -- cid).take(3)} / ${(cid -- lid).take(3)})")
          }
          reads.incrementAndGet()
          ()
        } catch {
          case e: Throwable if isStaleRead(e) =>
            retries.incrementAndGet(); () // >grace-stale: re-resolve and retry
          case e: Throwable =>
            torn.add(s"reader failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            stop = true
        }
      }
    })
    reader.setDaemon(true)
    reader.start()
    try {
      // the production maintenance sequence, live under the reader
      AnnStream.ingestBatch(spark, base,
        emb.where(col("vec_id") >= 30 && col("vec_id") < 60))
      StoredIndex.delete(spark, base,
        Embeddings.vecsOf(emb).where(DeleteRepair.delVecPred))
      AnnStream.ingestBatch(spark, base, emb.where(col("vec_id") >= 60))
      AnnStream.compactIndexStore(spark, base)
    } finally {
      stop = true
      reader.join(120000)
    }
    assert(torn.isEmpty, s"isolation violations: ${torn.toArray.mkString("; ")}")
    assert(reads.get() > 0, "the reader never completed a read — nothing exercised")
    // final state sanity: the delete survived the whole sequence
    val snap = ManifestStore.snapshot(spark, base)
    val (lists, codes) = (snap.read("lists", StoredIndex.listsSchema),
      snap.read("codes", StoredIndex.codesSchema))
    assert(lists.where(pmod(col("neighbor_id"), lit(17L)) === 14L).isEmpty)
    assert(codes.count() == 8 * lists.count())
  }
}
