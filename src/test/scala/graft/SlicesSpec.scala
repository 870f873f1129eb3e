package graft

import graft.streaming.{Slices, Streaming}
import graft.util.ManifestStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one stager ([[Slices.stage]]) and the streams it feeds: every
  * slice lands as one non-empty file in replay order from one write
  * job, a stream drains one non-empty trigger per slice, and the
  * as-of sink commits each trigger's rows exactly once. */
class SlicesSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_slicesspec_$tag").toString

  private def sliceFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  /** Jobs started by `body`: a marker job run after it is seen by the
    * listener only once every earlier job-start event was delivered. */
  private def jobsRun(body: => Unit): Int = {
    val starts = new java.util.concurrent.atomic.AtomicInteger()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.mark") != null))
          marked.countDown()
        else starts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty("graft.spec.mark", "1")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.mark", null)
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      starts.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("toMemory leaves no memory-sink view in the catalog; its frame keeps the rows") {
    val dir = Slices.stage(spark.range(0, 6).toDF("id"), pmod(col("id"), lit(2)), 2, tmp("mem"))
    val out = Slices.toMemory(Slices.source(spark, dir, spark.read.parquet(dir).schema),
      org.apache.spark.sql.streaming.OutputMode.Append)
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("graft_mem_")))
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq == (0L until 6L))
  }

  test("stage writes n non-empty slice files in replay order, rows partitioned exactly") {
    val df = spark.range(0, 200).select(col("id"), (col("id") * 3).as("v"))
    val dir = tmp("stage")
    Slices.stage(df, pmod(col("id"), lit(5)), 5, dir)
    val files = sliceFiles(dir)
    assert(files.map(_.getName) == (0 until 5).map(i => f"slice_$i%04d.parquet"))
    assert(new java.io.File(dir).list().forall(_.startsWith("slice_")), "the work dir was left behind")
    val stamps = files.map(_.lastModified)
    assert(stamps == stamps.sorted && stamps.distinct.size == 5, s"mtimes out of replay order: $stamps")
    for ((f, i) <- files.zipWithIndex) {
      val part = spark.read.parquet(f.getPath)
      assert(part.columns.toSeq == Seq("id", "v"), "the slice column leaked into the data")
      assert(part.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 200L).filter(_ % 5 == i))
    }
    // a second stage into the same dir queues behind the first
    Slices.stage(spark.range(200, 210).select(col("id"), (col("id") * 3).as("v")),
      lit(0), 1, dir)
    val more = sliceFiles(dir)
    assert(more.size == 6 && more.last.getName == "slice_0005.parquet")
    assert(more.last.lastModified > stamps.last)
    assert(spark.read.parquet(more.last.getPath).count() == 10)
  }

  test("stage runs the same number of Spark jobs whatever n is") {
    val df = spark.range(0, 600).toDF("id")
    val few = jobsRun(Slices.stage(df, pmod(col("id"), lit(2)), 2, tmp("jobs2")))
    val many = jobsRun(Slices.stage(df, pmod(col("id"), lit(6)), 6, tmp("jobs6")))
    assert(few == many, s"n = 2 ran $few jobs, n = 6 ran $many")
  }

  test("stage rejects an empty slice and a row outside [0, n), moving nothing") {
    val df = spark.range(0, 30).toDF("id")
    val dir = tmp("empty")
    val e = intercept[IllegalArgumentException] {
      Slices.stage(df, pmod(col("id"), lit(3)) * 2, 5, dir)
    }
    assert(e.getMessage.contains("slice 1, 3 of 5 is empty"), e.getMessage)
    val stray = intercept[IllegalArgumentException] {
      Slices.stage(df, pmod(col("id"), lit(4)), 3, dir)
    }
    assert(stray.getMessage.contains("outside slices [0, 3): 3"), stray.getMessage)
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("stream_skyline drains three non-empty triggers") {
    val nonEmpty = collection.concurrent.TrieMap[java.util.UUID, Int]()
    val done = new java.util.concurrent.LinkedBlockingQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          nonEmpty.put(e.progress.id, nonEmpty.getOrElse(e.progress.id, 0) + 1)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        done.put(e.id)
    }
    spark.streams.addListener(listener)
    try {
      assert(graft.streaming.SkylineStream.streamSkyline(spark, sfDir).count() > 0)
      val id = done.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(id != null, "the skyline drain never reported its termination")
      assert(nonEmpty.getOrElse(id, 0) == 3)
    } finally spark.streams.removeListener(listener)
  }

  test("stream_asof crashed after a trigger's commit restarts on the same checkpoint with every row once") {
    val src = Streaming.asOfStage(spark, sfDir)
    val (root, ckpt) = (tmp("asof_store"), tmp("asof_ckpt"))
    ManifestStore.crashPoint = Some("gc")
    try intercept[Exception] {
      Streaming.asOfInto(spark, sfDir, src, root, Some(ckpt))
    } finally ManifestStore.crashPoint = None
    // trigger 0's rows committed (with its batch id) before it threw;
    // the restart re-delivers batch 0 and the gate skips it
    assert(Slices.committedBatch(ManifestStore.snapshot(spark, root)) == Some(0L))
    val restarted = Streaming.asOfInto(spark, sfDir, src, root, Some(ckpt))
      .collect().map(_.mkString("|")).toSeq
    val oneShot = graft.plans.AsOfJoinNative.skAsOfNative(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    assert(restarted.nonEmpty)
    assert(restarted == oneShot)
    assert(Slices.committedBatch(ManifestStore.snapshot(spark, root)) == Some(2L))
  }

  test("stream_dedup_lsh re-delivered after its commit appends no pair twice") {
    val src = Streaming.dedupLshStage(spark, sfDir)
    val (root, ckpt) = (tmp("lsh_store"), tmp("lsh_ckpt"))
    def pairs(): Seq[(Long, Long)] = Streaming.dedupLshInto(spark, src, root, Some(ckpt))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val once = pairs()
    // the replayed trigger must have found pairs for a repeat to show
    val lastIds = spark.read.parquet(sliceFiles(src).last.toString)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(once.exists { case (_, b) => lastIds(b) }, "the last trigger found no pair")
    // forget the last trigger in Spark's commit log, as a crash after
    // the sink's commit but before Spark's own does: the restart
    // re-delivers that batch under the same id
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.matches("\\d+")).maxBy(_.toInt)
    assert(new java.io.File(commits, last).delete())
    new java.io.File(commits, s".$last.crc").delete()
    val replayed = pairs()
    assert(replayed == once, s"replay changed the pairs: ${replayed.diff(once).take(5)}")
    val oneShot = graft.dedup.Dedup.minHashLsh(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(once.toSet == oneShot && once.distinct.size == once.size)
    assert(Slices.committedBatch(ManifestStore.snapshot(spark, root)) == Some(last.toLong))
  }
}
