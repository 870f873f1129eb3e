package graft.streaming

import graft.util.ManifestStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** The one trigger-to-store path of the file-fed streams: [[stage]]
  * writes a frame as one slice file per trigger, [[source]] delivers
  * one file per micro-batch, [[drain]] runs a batch function over
  * every file under Trigger.AvailableNow, [[drainInto]] commits
  * each trigger's store tables through [[commit]], and [[toMemory]]
  * drains a streaming frame into a memory table.
  *
  * The store guarantee, stated once for every store-backed stream: a
  * trigger's tables AND its batch id land in ONE ManifestStore
  * publish. A reader resolves one committed snapshot, so it sees the
  * whole trigger or none of it — a crash before the flip leaves only
  * uncommitted files, which the next publish clears. `foreachBatch` is
  * at-least-once: a crash after the flip but before Spark's own commit
  * log re-delivers the same batch id on restart, and the gate finds
  * that id committed and skips the batch, so no sum doubles and no
  * transition repeats. The gate and the trigger's ops read the one
  * snapshot the publish resolves under its lease.
  */
private[graft] object Slices {

  /** The one stager: write `df` into `dir` as `n` files
    * `slice_%04d.parquet`, `slice` giving each row its replay position
    * in `[0, n)`. ONE Spark job writes every slice — a repartition on
    * the slice column, then a write partitioned by it, so a slice is
    * one file even when two slices share a task — and each file is
    * then moved up and mtime-stamped in replay order, the order
    * [[source]] delivers. Into a dir that already holds slices,
    * numbering and stamps carry on after the last one. An empty slice
    * (a trigger that tests nothing) or a row outside `[0, n)` fails
    * the stage by name before anything moves. Returns `dir`. */
  def stage(df: DataFrame, slice: Column, n: Int, dir: String): String = {
    val (sc, work) = ("graft_slice", new java.io.File(dir, "_work"))
    try {
      df.withColumn(sc, slice).repartition(n, col(sc))
        .write.mode("overwrite").partitionBy(sc).parquet(work.toString)
      val parts = work.listFiles().filter(_.isDirectory).map { d =>
        d.getName.stripPrefix(s"$sc=") -> d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      }.toMap
      val stray = parts.keySet -- (0 until n).map(_.toString)
      require(stray.isEmpty, s"rows outside slices [0, $n): ${stray.mkString(", ")}")
      val empty = (0 until n).filterNot(i => parts.contains(i.toString))
      require(empty.isEmpty, s"slice ${empty.mkString(", ")} of $n is empty")
      val first = new java.io.File(dir).list().count(_.matches("slice_\\d{4}\\.parquet"))
      for (i <- 0 until n) {
        val Seq(file) = parts(i.toString)
        val dst = new java.io.File(dir, f"slice_${first + i}%04d.parquet")
        java.nio.file.Files.move(file.toPath, dst.toPath)
        dst.setLastModified(1000000000000L + (first + i) * 60000L)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work)
    dir
  }

  /** [[stage]] a frame with a `ts_ms` column as `nSlices` consecutive
    * equal-width archive-time ranges, into a fresh dir tagged `tag`. */
  def stage(df: DataFrame, tag: String, nSlices: Int): String = {
    val bounds = df.agg(min("ts_ms"), max("ts_ms")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    stage(df, expr(s"(ts_ms - $lo) div ${(hi - lo) / nSlices + 1}"), nSlices,
      graft.util.Fs.scratch(s"${tag}_src"))
  }

  /** One file of `srcDir` per micro-batch, oldest modification time
    * first. */
  def source(spark: SparkSession, srcDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(srcDir)

  /** Run `onBatch(batch, batchId)` over every file in `srcDir`, one
    * trigger per file, and return once the source is drained. A caller
    * that restarts a crashed drain passes the same `checkpoint`;
    * otherwise each drain gets a fresh one. */
  def drain(spark: SparkSession, srcDir: String, schema: StructType,
      checkpoint: Option[String] = None)(onBatch: (DataFrame, Long) => Unit): Unit = {
    val q = source(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => onBatch(batch, batchId) }
      .option("checkpointLocation", checkpoint.getOrElse(
        graft.util.Fs.scratch("ckpt")))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run the streaming frame `df` under Trigger.AvailableNow into a
    * fresh memory table in `mode` and return that table once the
    * source is drained. The sink's temp view is dropped once the
    * returned frame is analyzed: the frame keeps the sink's rows, the
    * session catalog does not. */
  def toMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "graft_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", graft.util.Fs.scratch("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val out = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    out
  }

  /** [[drain]] into the ManifestStore at `root`: each trigger's
    * `step(batch, snapshot)` returns its table ops, read against the
    * committed snapshot (an unpublished table reads as empty), and
    * [[commit]] publishes them. */
  def drainInto(spark: SparkSession, srcDir: String, schema: StructType,
      root: String, checkpoint: Option[String] = None)(
      step: (DataFrame, ManifestStore.Snapshot) => Seq[ManifestStore.TableOp]): Unit =
    drain(spark, srcDir, schema, checkpoint) { (batch, batchId) =>
      commit(batch.sparkSession, root, batchId)(step(batch, _))
    }

  /** One trigger's commit: unless `batchId` is already committed at
    * `root`, publish `ops(snapshot)` together with the batch record.
    * Gate and ops run inside the publish builder, on the snapshot it
    * resolved under the lease; `ops` runs only past the gate, so a
    * skipped batch starts no Spark job and publishes nothing. */
  def commit(sp: SparkSession, root: String, batchId: Long)(
      ops: ManifestStore.Snapshot => Seq[ManifestStore.TableOp]): Unit =
    ManifestStore.publishOps(sp, root) { snap =>
      if (committedBatch(snap).exists(_ >= batchId)) Seq.empty
      else ops(snap) :+ batchOp(sp, batchId)
    }

  /** The batch record is the name of the `batch` table's single empty
    * file, so writing and reading it start no Spark job. */
  private val BatchTable = "batch"

  /** The last batch id committed at `snap`, if any trigger committed. */
  def committedBatch(snap: ManifestStore.Snapshot): Option[Long] =
    snap.tableFiles(BatchTable).map(_.stripPrefix("batch-").toLong).maxOption

  private def batchOp(sp: SparkSession, batchId: Long): ManifestStore.TableOp =
    ManifestStore.TableOp(BatchTable, "", None, replace = true, { (_, dir) =>
      val p = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
      graft.util.Fs.of(sp, dir).create(p, true).close()
    })
}
