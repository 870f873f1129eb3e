package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One finished client op. `work` is the op's unit of useful output
  * (requests, delta rows, documents) and counts only when `ok`. */
final case class OpRec(id: Long, client: Int, kind: String, startNs: Long,
    endNs: Long, ok: Boolean, errClass: String, work: Long, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The in-flight op of the calling client thread, plus its open span
  * stack. Spans are only recorded for ops whose `traced` flag is set. */
final class OpCtx(val id: Long, val client: Int, val kind: String,
    val traced: Boolean) {
  var stack: List[Int] = Nil
}

final case class Span(id: Int, parent: Int, op: Long, kind: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out once, at exit. */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private[perfbench] val current = new ThreadLocal[OpCtx]()

  def span[A](name: String)(body: => A): A = {
    val c = current.get
    if (c == null || !c.traced) body
    else {
      val id = nextId.getAndIncrement()
      val parent = c.stack.headOption.getOrElse(0)
      c.stack = id :: c.stack
      val t0 = System.nanoTime()
      try body
      finally {
        c.stack = c.stack.tail
        spans.add(Span(id, parent, c.id, c.kind, name, t0, System.nanoTime()))
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-op counters a workload records beside its spans (scan metrics,
  * candidate counts, ...). Kept only for traced ops. */
object Counters {
  private val byOp = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]()

  def add(name: String, v: Double): Unit = {
    val c = Trace.current.get
    if (c != null && c.traced)
      byOp.computeIfAbsent(c.id, _ => new ConcurrentHashMap[String, Double]())
        .merge(name, v, (a: Double, b: Double) => a + b)
  }

  def of(op: Long): Map[String, Double] =
    Option(byOp.get(op)).map(_.asScala.toMap).getOrElse(Map.empty)
}

/** Scan metrics of a collected frame's executed plan (traced ops only):
  * partitions, files and bytes its file scans read, and rows scanned
  * against rows returned. */
object Scans extends AdaptiveSparkPlanHelper {
  def record(df: DataFrame, rowsOut: Long): Unit =
    if (Option(Trace.current.get).exists(_.traced)) {
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
      Counters.add("sources.partitions_read", m("numPartitions"))
      Counters.add("sources.files_read", m("numFiles"))
      Counters.add("sources.bytes_read", m("filesSize"))
      Counters.add("sources.rows_scanned", m("numOutputRows"))
      Counters.add("sources.rows_returned", rowsOut.toDouble)
    }
}

/** Engine counters per op, from a bench-owned SparkListener. Jobs are
  * tagged through the `perfbench.op` local property the client thread
  * sets; a job whose tag names no running op (a library pool thread
  * that inherited a stale property) goes to `fallback()`, the running
  * op of the one client that may start such jobs. */
final class EngineListener(fallback: () => Long) extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val cpuNs = new AtomicLong
    val shRead = new AtomicLong; val shWrite = new AtomicLong
    val spill = new AtomicLong; val input = new AtomicLong; val output = new AtomicLong
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  val active = ConcurrentHashMap.newKeySet[Long]()
  private val acc = new ConcurrentHashMap[Long, Acc]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  val started = new AtomicLong
  val ended = new AtomicLong

  private def accOf(op: Long) = acc.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val now = System.nanoTime()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toLong).filter(active.contains).getOrElse(fallback())
    if (tag >= 0) {
      jobOp.put(e.jobId, tag)
      jobStartNs.put(e.jobId, now)
      e.stageIds.foreach(s => stageOp.put(s, tag))
      accOf(tag).jobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val now = System.nanoTime()
    Option(jobOp.remove(e.jobId)).foreach { op =>
      val t0: Long = jobStartNs.remove(e.jobId)
      accOf(op).intervals.add((t0, now))
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { op =>
      val a = accOf(op)
      val m = e.stageInfo.taskMetrics
      a.stages.incrementAndGet()
      a.tasks.addAndGet(e.stageInfo.numTasks)
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.bytesRead)
        a.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Block until every started job has ended (listener events are
    * delivered asynchronously), at most `maxMs`. */
  def drain(maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (started.get != ended.get && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Engine counters of one op; `driver_only_ms` is the op's wall time
    * not covered by any of its jobs. */
  def of(r: OpRec): Map[String, Double] = {
    val a = Option(acc.get(r.id)).getOrElse(new Acc)
    val iv = a.intervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, r.startNs), math.min(e, r.endNs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Map(
      "spark.jobs" -> a.jobs.get.toDouble,
      "spark.stages" -> a.stages.get.toDouble,
      "spark.tasks" -> a.tasks.get.toDouble,
      "spark.executor_run_ms" -> a.runMs.get.toDouble,
      "spark.executor_cpu_ms" -> a.cpuNs.get / 1e6,
      "spark.shuffle_read_bytes" -> a.shRead.get.toDouble,
      "spark.shuffle_write_bytes" -> a.shWrite.get.toDouble,
      "spark.spill_bytes" -> a.spill.get.toDouble,
      "spark.input_bytes" -> a.input.get.toDouble,
      "spark.output_bytes" -> a.output.get.toDouble,
      "spark.driver_only_ms" -> (r.endNs - r.startNs - covered) / 1e6)
  }
}

/** A client's op stream: the next op's kind and body. The body returns
  * the op's work units. */
trait Client {
  def next(): (String, () => Long)
  /** Whether the client may stop before its next op (false inside a
    * sequence of ops that belong together). */
  def atBoundary: Boolean = true
}

/** Closed-loop load: each client thread issues its next op only when
  * the previous one returned. */
final class Harness(sc: SparkContext, traceMode: Boolean) {
  private val nextOp = new AtomicLong(1)
  private val running = new ConcurrentHashMap[Int, java.lang.Long]()
  private val perKind = new ConcurrentHashMap[(Int, String), AtomicLong]()
  val listener = new EngineListener(() => Option(running.get(0)).map(_.longValue).getOrElse(-1L))
  sc.addSparkListener(listener)

  private def runOne(client: Int, kind: String, body: () => Long, timed: Boolean): OpRec = {
    val id = nextOp.getAndIncrement()
    // in traced runs every second timed op of each kind is traced, from
    // the first on, so traced and untraced ops interleave over the same
    // window and their difference is the tracing overhead, free of drift
    val traced = timed && traceMode &&
      perKind.computeIfAbsent((client, kind), _ => new AtomicLong).getAndIncrement() % 2 == 0
    val ctx = new OpCtx(id, client, kind, traced)
    Trace.current.set(ctx)
    sc.setLocalProperty("perfbench.op", id.toString)
    listener.active.add(id)
    running.put(client, id)
    val t0 = System.nanoTime()
    val (ok, err, work) =
      try {
        val w = Trace.span(s"op.$kind")(body())
        (true, "", w)
      } catch {
        case e: Throwable if !e.isInstanceOf[VirtualMachineError] => (false, errorClass(e), 0L)
      }
    val t1 = System.nanoTime()
    running.remove(client)
    listener.active.remove(id)
    sc.setLocalProperty("perfbench.op", null)
    Trace.current.remove()
    OpRec(id, client, kind, t0, t1, ok, err, work, traced)
  }

  /** Run `clients` concurrently, client `i` until `stop(i, opsDoneByIt)`
    * holds (checked before each op). */
  def run(clients: Seq[Client], timed: Boolean)(stop: (Int, Int) => Boolean): Seq[OpRec] = {
    val out = new ConcurrentLinkedQueue[OpRec]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = clients.zipWithIndex.map { case (c, i) =>
      val t = new Thread(() => {
        try {
          var n = 0
          while ((!c.atBoundary || !stop(i, n)) && failure.get == null) {
            val (kind, body) = c.next()
            out.add(runOne(i, kind, body, timed))
            n += 1
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    out.asScala.toSeq.sortBy(_.startNs)
  }

  def errorClass(e: Throwable): String = e match {
    case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
      s"${e.getClass.getSimpleName}:${s.getCondition}"
    case _ => e.getClass.getSimpleName
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Median of the last third of `xs` (in time order) over the median
    * of the first third (at least one op each): > 1 means ops got slower
    * through the window. Unmeasured (NaN) below two ops. */
  def drift(xs: Seq[Double]): Double =
    if (xs.size < 2) Double.NaN
    else {
      val k = math.max(1, xs.size / 3)
      median(xs.takeRight(k)) / median(xs.take(k))
    }

  /** Self time of each span: its duration minus the time its direct
    * children cover (children of one op run on its client thread, one
    * after another). */
  def selfMs(spans: Seq[Span]): Seq[(Span, Double)] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0)))
  }
}
