package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark workload: its op kinds, inputs, warm-up and checks. */
trait Workload {
  def name: String
  /** Op kind `op_p50_ms`, `cpu_ms_per_op` and `drift.op` are about. */
  def primary: String
  /** Op kind `read_p50_ms` and `drift.read` are about. */
  def read: String
  def clients: Int
  /** The tail percentile: the highest with ≥10 samples beyond it at the
    * op rate this workload reaches in a run. */
  def tailQ: Double
  /** Full passes over the op mix before timing starts. */
  def warmPasses: Int = 2
  /** Ops each client runs in the window at least (the window lasts
    * until every client has), so that drift (which needs two ops of a
    * kind) is always measured. */
  def minTimedOps: Int = 3
  /** Op kinds whose work units count towards `work_per_s`. */
  def workKinds: Set[String] = Set(primary)
  /** Generate the inputs into the run's scratch dir. */
  def setup(): Map[String, Double]
  /** The ops of one warm-up pass of one client: every op shape once. */
  def warmPass(client: Int, pass: Int): Seq[(String, () => Long)]
  def timedClient(client: Int): Client
  /** Correctness of everything the run produced. */
  def check(): (Boolean, Map[String, String])
  /** Store-level counters at the end of the window. */
  def endCounters(window: Seq[OpRec], engine: OpRec => Map[String, Double]): Map[String, Double]
}

/** Heap occupancy right after each full GC (summed over heap pools).
  * Young collections are left out: what they leave behind includes old
  * garbage not yet collected, so their readings swing from run to run. */
object HeapAfterGc {
  @volatile var peak = 0L
  @volatile var on = false
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            if (used > peak) peak = used
          }
        }, null, null)
    case _ =>
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --scratch <dir> --drift-bound <x>`
  *
  * Prints one line `PERFBENCH {json}` with every end-to-end and
  * per-layer metric, the correctness verdict and the run's details. */
object Main {
  private val spanMetrics = Seq("api.plan", "api.exec", "sources.listing", "sources.flatten",
    "operators.tier_merge", "manifest.publish", "manifest.compact", "manifest.snapshot",
    "dedup.signatures", "dedup.lsh", "dedup.components", "index.delete", "index.search")
  private val opCounters = Seq("sources.partitions_read", "sources.files_read",
    "sources.bytes_read", "dedup.candidate_pairs", "dedup.pair_precision", "index.publishes")
  private val engineMetrics = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes", "spark.driver_only_ms")
  private val storeCounters = Seq("manifest.version", "manifest.live_files",
    "manifest.bytes_written_per_user_byte")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts("trace") == "1"
    val scratch = opts("scratch")
    val driftBound = opts.getOrElse("drift-bound", "0.1").toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      // partition values stay strings (day "003" must not read back as 3)
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val status =
      try run(spark, opts("workload"), seed, seconds, traceMode, scratch, driftBound, jvmStartMs)
      finally spark.stop()
    System.exit(status)
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traceMode: Boolean, scratch: String, driftBound: Double, jvmStartMs: Long): Int = {
    val wl: Workload = workload match {
      case "history" => new HistoryBench(spark, seed, s"$scratch/data")
      case "ingest" => new IngestBench(spark, seed, s"$scratch/data")
      case "training_data" => new TrainingBench(spark, seed, s"$scratch/data")
      case other =>
        System.err.println(s"unknown workload: $other")
        return 2
    }
    val harness = new Harness(spark.sparkContext, traceMode)
    HeapAfterGc.install()
    val tGen = System.nanoTime()
    val setupInfo = wl.setup()
    val genS = (System.nanoTime() - tGen) / 1e9

    // warm-up: a fixed count of full passes over the op mix, never a clock
    val tWarm = System.nanoTime()
    val warmLists = (0 until wl.clients).map(c => (0 until wl.warmPasses).flatMap(p => wl.warmPass(c, p)))
    val warm = harness.run(warmLists.map { l =>
      val it = l.iterator
      new Client { def next(): (String, () => Long) = it.next() }
    }, timed = false)((c, n) => n >= warmLists(c).size)
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (gc0, jit0, cpu0) = (gcMs, jit.getTotalCompilationTime, os.getProcessCpuTime)
    HeapAfterGc.peak = 0L
    HeapAfterGc.on = true
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    // the clients stop together, once every one of them has run its
    // minimum, so the last ops of the window run under the same load as
    // the first
    val done = new java.util.concurrent.atomic.AtomicIntegerArray(wl.clients)
    val ops = harness.run((0 until wl.clients).map(wl.timedClient), timed = true) { (c, n) =>
      done.set(c, n)
      System.nanoTime() >= deadline && (0 until wl.clients).forall(done.get(_) >= wl.minTimedOps)
    }
    val end = ops.map(_.endNs).max
    val (gc1, jit1, cpu1) = (gcMs, jit.getTotalCompilationTime, os.getProcessCpuTime)
    // the end-of-window live heap is one of the after-GC samples; a first
    // GC lets Spark's ContextCleaner drop the blocks of checkpoints that
    // died in the window (it removes them asynchronously, one by one)
    HeapAfterGc.on = false
    val inWindow = HeapAfterGc.peak
    HeapAfterGc.peak = 0L
    System.gc()
    Thread.sleep(1500)
    HeapAfterGc.on = true
    System.gc()
    val gcWait = System.currentTimeMillis() + 2000 // notifications are asynchronous
    while (HeapAfterGc.peak == 0L && System.currentTimeMillis() < gcWait) Thread.sleep(10)
    HeapAfterGc.on = false
    val heapLive = math.max(inWindow, HeapAfterGc.peak)
    val windowS = (end - start) / 1e9
    harness.listener.drain(10000)

    val tCheck = System.nanoTime()
    val (correct, checkInfo) = wl.check()
    val checkS = (System.nanoTime() - tCheck) / 1e9

    // ---------------------------------------------------- end to end
    val prim = ops.filter(r => r.kind == wl.primary && r.ok)
    val reads = ops.filter(r => r.kind == wl.read && r.ok)
    // e2e latencies come from untraced ops only (all ops when untraced)
    def lat(xs: Seq[OpRec]) = xs.filterNot(_.traced).map(_.ms)
    val work = ops.filter(r => r.ok && wl.workKinds(r.kind)).map(_.work).sum
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(lat(prim)),
      "work_per_s" -> work / windowS,
      "read_p50_ms" -> Stats.median(lat(reads)),
      "cpu_ms_per_op" -> (cpu1 - cpu0) / 1e6 / math.max(1, prim.size),
      "heap_live_mb" -> heapLive / 1048576.0)

    // ---------------------------------------------------- per layer
    val spans = Trace.all
    val self = Stats.selfMs(spans)
    val tracedIds = ops.filter(_.traced).map(_.id).toSet
    val selfByOpName = self.filter { case (s, _) => tracedIds(s.op) }
      .groupBy { case (s, _) => (s.op, s.name) }.map { case (k, xs) => k -> xs.map(_._2).sum }
    def spanMedian(name: String) =
      Stats.median(selfByOpName.collect { case ((_, n), v) if n == name => v }.toSeq)
    def counterMedian(name: String) = {
      val xs = ops.filter(_.traced).flatMap(r => Counters.of(r.id).get(name))
      Stats.median(xs)
    }
    val tracedOps = ops.filter(_.traced)
    val scanned = tracedOps.flatMap(r => Counters.of(r.id).get("sources.rows_scanned")).sum
    val returned = tracedOps.flatMap(r => Counters.of(r.id).get("sources.rows_returned")).sum
    val engine = prim.map(harness.listener.of)
    val store = wl.endCounters(ops, harness.listener.of)
    val perLayer =
      spanMetrics.map(n => s"${n}_ms" -> spanMedian(n)) ++
      opCounters.map(n => n -> counterMedian(n)) ++
      Seq("sources.rows_scanned_per_row_returned" -> (if (returned > 0) scanned / returned else 0.0)) ++
      engineMetrics.map(n => n -> Stats.median(engine.map(_(n)))) ++
      storeCounters.map(n => n -> store.getOrElse(n, 0.0)) ++
      Seq(
        "jvm.gc_ms" -> (gc1 - gc0).toDouble,
        "jvm.jit_ms" -> (jit1 - jit0).toDouble,
        "drift.op" -> Stats.drift(prim.map(_.ms)),
        "drift.read" -> Stats.drift(reads.map(_.ms)),
        "op_tail_ms" -> Stats.quantile(prim.map(_.ms), wl.tailQ),
        "trace.overhead_ms" -> (if (traceMode)
          Stats.median(prim.filter(_.traced).map(_.ms)) - Stats.median(lat(prim)) else 0.0))

    // ---------------------------------------------------- details
    val kinds = ops.map(_.kind).distinct.sorted
    val perKind = kinds.map { k =>
      val ks = ops.filter(_.kind == k)
      val ok = ks.filter(_.ok).map(_.ms)
      k -> Json.obj(Seq(
        "n" -> ks.size.toString, "failed" -> ks.count(!_.ok).toString,
        "p50_ms" -> Json.num(Stats.median(ok)),
        "p90_ms" -> Json.num(Stats.quantile(ok, 0.9)),
        "drift" -> Json.num(Stats.drift(ok)),
        "ms" -> ks.map(r => math.round(r.ms).toString).mkString("[", ",", "]"),
        "errors" -> Json.obj(ks.filterNot(_.ok).groupBy(_.errClass).toSeq.sortBy(_._1)
          .map { case (e, xs) => e -> xs.size.toString })))
    }
    // steadiness is judged on the op kinds the end-to-end latencies are
    // over; other kinds (an ingest compaction runs a few times a window)
    // report their drift in `ops`
    val drifts = Seq(wl.primary, wl.read).distinct
      .map(k => Stats.drift(ops.filter(r => r.kind == k && r.ok).map(_.ms)))
    val steady = drifts.forall(d => math.abs(d - 1.0) <= driftBound)
    val selfByKind = self.filter { case (s, _) => tracedIds(s.op) }
      .groupBy { case (s, _) => (s.kind, s.name) }.toSeq.sortBy(_._1)
      .map { case ((k, n), xs) => s"$k/$n" -> Json.obj(Seq(
        "spans" -> xs.size.toString,
        "self_ms_total" -> Json.num(xs.map(_._2).sum),
        "self_ms_per_op" -> Json.num(xs.map(_._2).sum / math.max(1, ops.count(r => r.traced && r.kind == k)))))
      }
    val info = Seq(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString,
      "steady" -> steady.toString, "drift_bound" -> Json.num(driftBound),
      "window_s" -> Json.num(windowS), "generate_s" -> Json.num(genS),
      "warm_s" -> Json.num(warmS), "warm_ops" -> warm.size.toString,
      "after_window_s" -> Json.num((tCheck - end) / 1e9), "check_s" -> Json.num(checkS),
      "warm_failed" -> warm.count(!_.ok).toString,
      "tail_quantile" -> Json.num(wl.tailQ),
      "cpus" -> Runtime.getRuntime.availableProcessors.toString,
      "inputs" -> Json.nums(setupInfo),
      "ops" -> Json.obj(perKind),
      "checks" -> Json.obj(checkInfo.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "self_time_by_kind" -> Json.obj(selfByKind))
    val out = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(!_.ok).toString,
      "end_to_end" -> Json.nums(e2e),
      "per_layer" -> Json.nums(perLayer),
      "info" -> Json.obj(info)))
    if (traceMode) writeSpans(spans, s"$scratch/spans.jsonl")
    println(s"PERFBENCH $out")
    0
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    } finally w.close()
  }
}
