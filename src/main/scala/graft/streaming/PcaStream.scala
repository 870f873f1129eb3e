package graft.streaming

import graft.similarity.{Embeddings, Pca}
import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live PCA moment maintenance — the streaming twin of
  * [[Pca.embedPca]]: the fixed-size raw-moment buffer (Σxᵢ, Σxᵢxⱼ)
  * kept current as embedding batches arrive, so the covariance /
  * dominant-component view of the corpus is always one metadata-sized
  * eigensolve away — drift monitoring over a live embedding feed
  * without ever rescanning the corpus for statistics.
  *
  * Shape: the sketch-store discipline ([[Streaming.streamHll]] /
  * [[KmvStream]]): each micro-batch reduces to its OWN
  * [[graft.functions.GramMatrix graft_gram]] buffer (map-side
  * partials), and the persisted store row merges by elementwise
  * Long ADD — exact scaled-integer sums are associative over ANY
  * slicing of the corpus, so trigger-at-a-time maintenance produces
  * the bit-identical buffer the one-shot aggregate computes and the
  * BATCH oracle carries over verbatim. The store is ONE row of
  * d(d+3)/2+1 longs (~17 KB at d = 64) regardless of throughput; the
  * merge arithmetic runs on the driver inside foreachBatch because
  * the operands are metadata-sized by construction (the
  * [[Pca]] driver-eigensolve precedent).
  *
  * The final projection pass runs over the accumulated corpus with
  * the store's moments — identical output to [[Pca.embedPca]]
  * (spec-pinned bit-equality).
  */
object PcaStream {

  // -------------------------------------------------------------- #103
  def streamPcaMoments(spark: SparkSession, dir: String): DataFrame = {
    // the OUTER session, registered before the stream starts:
    // foreachBatch runs on a CLONED session whose function registry is
    // a snapshot, so an in-batch registration never reaches the final
    // projection's graft_dense/graft_dot here
    graft.functions.Native.register(spark)
    val emb = graft.Tables.embeddings(spark, dir)
    val srcDir = Slices.stage(emb.repartitionByRange(3, col("vec_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("pca_src"))
    val root = graft.util.Fs.scratch("pca_store")
    val st = maintainMoments(spark, srcDir, emb.schema, root)
    // projection over the accumulated corpus with the STORE's moments
    val vecs = Embeddings.vecsOf(spark.read.parquet(srcDir))
      .select("vec_id", "label", "v")
    Pca.projectWith(vecs, st.getSeq[Long](0).toArray, st.getLong(1))
  }

  private val momentsSchema = StructType(Seq(
    StructField("m", ArrayType(LongType)), StructField("n", LongType)))

  /** Drain `srcDir` into the one-row moment store at `root` and return
    * the drained row — the maintenance loop, shared with
    * [[streamDriftReport]]. */
  private[graft] def maintainMoments(spark: SparkSession, srcDir: String,
      schema: StructType, root: String): Row = {
    Slices.drainInto(spark, srcDir, schema, root) { (batch, snap) =>
      val sp = batch.sparkSession
      graft.functions.Native.register(sp)
      val row = Embeddings.vecsOf(batch).select("v")
        .agg(expr("graft_gram(v)").as("m"), count(lit(1)).as("n")).head()
      val delta = row.getSeq[Long](0).toArray
      val dn = row.getLong(1)
      val (m, n) = snap.read("moments", momentsSchema).collect().headOption match {
        case Some(prev) =>
          val pm = prev.getSeq[Long](0).toArray
          require(pm(0) == delta(0), "stream_pca_moments: dimension drift")
          // metadata-sized exact merge: elementwise Long add (slot 0
          // carries d, identical on both sides)
          val merged = pm.clone()
          var i = 1
          while (i < merged.length) {
            merged(i) = Math.addExact(merged(i), delta(i)); i += 1
          }
          (merged, prev.getLong(1) + dn)
        case None => (delta, dn)
      }
      import sp.implicits._
      Seq(ManifestStore.replaceTableOp("moments", "", () => Seq((m.toSeq, n)).toDF("m", "n")))
    }
    ManifestStore.readTable(spark, root, "moments", momentsSchema).head()
  }

  // -------------------------------------------------------------- #116
  /** The drift alarm served FROM THE LIVE MOMENT STORE — the
    * production composition [[graft.similarity.DriftMonitor]]'s
    * scaladoc names: the reference corpus streams into the maintained
    * one-row moment store (this file's add-merge loop), and each
    * arriving batch's drift check reads the STORE row — the reference
    * side costs one 17 KB parquet read per check, never a corpus
    * rescan. Exact scaled-long moment adds are associative over the
    * slicing, so the maintained buffer is bit-identical to the
    * one-shot reference moments and the whole downstream chain
    * (eigensolve → frozen-axis projections → histograms → KL) carries
    * the 40w10 batch oracle verbatim. */
  def streamDriftReport(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val ref = graft.Tables.embeddings(spark, dir)
      .where(pmod(col("vec_id"), lit(4L)) =!= 3L)
    val srcDir = Slices.stage(ref.repartitionByRange(3, col("vec_id")),
      spark_partition_id(), 3, graft.util.Fs.scratch("drift_src"))
    val root = graft.util.Fs.scratch("drift_store")
    val st = maintainMoments(spark, srcDir, ref.schema, root)
    graft.similarity.DriftMonitor.reportFromMoments(
      spark, dir, 0.5, st.getSeq[Long](0).toArray, st.getLong(1))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_pca_moments" -> (streamPcaMoments _),
    "stream_drift_report" -> (streamDriftReport _))

  val oracles: Map[String, String] = Map(
    // exact scaled-long moment adds are associative over the slicing,
    // so the batch oracles carry verbatim
    "stream_pca_moments" -> Pca.embedPcaOracle,
    "stream_drift_report" -> graft.similarity.DriftMonitor.driftReportOracle)
}
