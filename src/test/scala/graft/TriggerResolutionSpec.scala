package graft

import graft.similarity.Bm25Store
import graft.streaming.{AnnStream, GraphStream, Slices}
import graft.util.ManifestStore
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[GraftTestFs]] under the `graftcount:` scheme, counting
  * `listStatus` calls per path. */
class CountingTestFs extends GraftTestFs {
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingTestFs.listed(p)
    super.listStatus(p)
  }
}

object CountingTestFs {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def key(p: Path): String =
    Path.getPathWithoutSchemeAndAuthority(p).toUri.getPath.stripSuffix("/")
  def listed(p: Path): Unit = counts.merge(key(p), 1L, _ + _)
  /** `listStatus` calls on `root` itself while `body` runs. */
  def listingsOf(root: String)(body: => Unit): Long = {
    counts.remove(key(new Path(root)))
    body
    counts.getOrDefault(key(new Path(root)), 0L)
  }
}

/** One store resolution per trigger: a store write reads the store it
  * changes only through the snapshot its publish resolved under the
  * lease, so a live trigger lists its store root exactly as often as a
  * publish of constant ops does — no extra version resolution for a
  * delete-log gate, a re-delivery anti-join or a batch-id gate. */
class TriggerResolutionSpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftcount.impl", classOf[CountingTestFs].getName)

  private def countRoot(tag: String): String =
    "graftcount://" + java.nio.file.Files.createTempDirectory(s"graft_count_$tag")

  private val tSchema = StructType(Seq(StructField("x", LongType)))

  /** Root listings of one constant-op publish onto a store that
    * already holds a version. */
  private lazy val barePublish: Long = {
    val root = countRoot("bare")
    def op(n: Long) = ManifestStore.replaceTableOp("t", "", () =>
      spark.range(n).toDF("x"))
    ManifestStore.publishOps(spark, root, Seq(op(1)))
    CountingTestFs.listingsOf(root)(ManifestStore.publishOps(spark, root, Seq(op(2))))
  }

  private def assertOneResolution(what: String, listings: Long): Unit = {
    assert(barePublish > 0)
    assert(listings == barePublish,
      s"$what listed its store root $listings times; a constant-op publish lists it $barePublish")
    info(s"$what: $listings root listings per trigger (constant-op publish: $barePublish)")
  }

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("an IVFADC ingest trigger resolves its store once") {
    val root = countRoot("ann")
    AnnStream.bootstrap(spark, sfDir, root)
    AnnStream.ingestBatch(spark, root, emb.where(col("vec_id") < 150))
    assertOneResolution("AnnStream.ingestBatch", CountingTestFs.listingsOf(root)(
      AnnStream.ingestBatch(spark, root, emb.where(col("vec_id") >= 150))))
  }

  test("a kNN-graph ingest trigger resolves its store once") {
    val root = countRoot("graph")
    GraphStream.ingestBatch(spark, root, emb.where(col("vec_id") < 150))
    assertOneResolution("GraphStream.ingestBatch", CountingTestFs.listingsOf(root)(
      GraphStream.ingestBatch(spark, root, emb.where(col("vec_id") >= 150))))
  }

  test("a BM25 ingest trigger resolves its store once") {
    val root = countRoot("bm25")
    val docs = Tables.documents(spark, sfDir)
    Bm25Store.appendBatch(spark, root, docs.where(col("doc_id") < 100), 0L)
    assertOneResolution("Bm25Store.appendBatch", CountingTestFs.listingsOf(root)(
      Bm25Store.appendBatch(spark, root, docs.where(col("doc_id") >= 100), 1L)))
  }

  test("a compaction sweep resolves its store once") {
    val ann = countRoot("ann_compact")
    AnnStream.bootstrap(spark, sfDir, ann)
    AnnStream.ingestBatch(spark, ann, emb.where(col("vec_id") < 150))
    AnnStream.ingestBatch(spark, ann, emb.where(col("vec_id") >= 150))
    assertOneResolution("AnnStream.compactIndexStore",
      CountingTestFs.listingsOf(ann)(AnnStream.compactIndexStore(spark, ann)))
    val bm25 = countRoot("bm25_compact")
    val docs = Tables.documents(spark, sfDir)
    Bm25Store.appendBatch(spark, bm25, docs.where(col("doc_id") < 100), 0L)
    Bm25Store.appendBatch(spark, bm25, docs.where(col("doc_id") >= 100), 1L)
    assertOneResolution("Bm25Store.compact",
      CountingTestFs.listingsOf(bm25)(Bm25Store.compact(spark, bm25)))
  }

  test("a Slices.commit trigger resolves its store once, batch-id gate included") {
    val root = countRoot("commit")
    def trigger(batchId: Long): Unit = Slices.commit(spark, root, batchId) { snap =>
      Seq(ManifestStore.replaceTableOp("t", "", () =>
        snap.read("t", tSchema).unionByName(spark.range(batchId, batchId + 1).toDF("x"))))
    }
    trigger(0L)
    assertOneResolution("Slices.commit", CountingTestFs.listingsOf(root)(trigger(1L)))
    assert(ManifestStore.readTable(spark, root, "t", tSchema).count() == 2)
  }
}
