package geobench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The per-layer metric names and units the traced run prints, in
  * order. BENCHMARK.json lists the same names under `per_layer`. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "op_ms_p50" -> "ms",
    "op_ms_p90" -> "ms",
    "ops_timed" -> "count",
    "geom.pip_ns" -> "ns",
    "geom.bounds_ns" -> "ns",
    "geom.hilbert_ns" -> "ns",
    "io.pack_s" -> "s",
    "io.read_plan_ms" -> "ms",
    "io.fs_ops_per_append" -> "count",
    "io.fs_ops_per_read" -> "count",
    "io.log_files" -> "count",
    "io.bytes_per_user_byte" -> "ratio",
    "plans.files_total" -> "count",
    "plans.files_scanned" -> "count",
    "plans.prune_frac" -> "ratio",
    "plans.join_matches" -> "count",
    "tools.sjoin_call_ms" -> "ms",
    "pipeline.cc_ms" -> "ms",
    "pipeline.cc_jobs" -> "count",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.slot_busy_frac" -> "ratio",
    "spark.driver_gap_ms_per_op" -> "ms",
    "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.shuffle_read_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB",
    "spark.task_skew" -> "ratio",
    "jvm.gc_ms_per_op" -> "ms",
    "jvm.gc_count_per_op" -> "count",
    "host.steal_frac" -> "ratio",
    "host.other_cpu_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio")
}

/** Hadoop local file system that counts the calls a lake commit or a
  * read makes: create, rename, delete, list and open. Registered for
  * `file:` in traced runs only. Counters are global because Hadoop
  * creates file-system instances itself. */
class CountingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFs.calls.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CountingFs.calls.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.calls.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFs.calls.incrementAndGet(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.calls.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.calls.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingFs {
  val calls = new AtomicLong()
  def install(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
}

/** Machine-wide CPU accounting from /proc/stat over the traced phase:
  * (steal share, share of CPU time used by other processes). */
object HostStat {
  final case class Sample(total: Long, idle: Long, steal: Long, procNs: Long)
  def sample(): Sample = {
    val procNs = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val line = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")) finally src.close()
    } catch { case _: java.io.IOException => None }
    line.map(_.trim.split("\\s+").drop(1).map(_.toLong)) match {
      case Some(f) if f.length >= 8 =>
        // user nice system idle iowait irq softirq steal ...
        Sample(f.take(8).sum, f(3) + f(4), f(7), procNs)
      case _ => Sample(0, 0, 0, procNs)
    }
  }
  /** Clock ticks are 10 ms (USER_HZ = 100). */
  def between(a: Sample, b: Sample): (Double, Double) = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) (0.0, 0.0)
    else {
      val busy = total - (b.idle - a.idle) - (b.steal - a.steal)
      val own = (b.procNs - a.procNs) / 1e7
      ((b.steal - a.steal) / total, math.max(0.0, busy - own) / total)
    }
  }
}

/** Traced-run instrumentation, all of it outside the library: spans
  * around the benchmark's calls into each module's public functions, a
  * SparkListener for jobs/stages/tasks, a QueryExecutionListener for
  * executed-plan SQL metrics, and the counting file system. Everything
  * stays in memory; spans are written once at exit. Off (and not
  * registered) in untraced runs. */
final class Tracer(slots: Int) {
  @volatile var on = false
  private var spark: SparkSession = _

  final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]

  /** Time `f` as a child span of the current op. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption.getOrElse("op")
      stack.push(name)
      val t0 = System.nanoTime()
      try f finally {
        stack.pop()
        spans += Span(curOp, name, parent, t0, System.nanoTime())
      }
    }

  /** Median duration of the spans called `name`, in ms (0 if none). */
  def spanMs(name: String): Double =
    Main.median(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq) match {
      case v if v.isNaN => 0.0
      case v => v
    }

  private val notes = mutable.Map.empty[String, ArrayBuffer[Double]]
  /** Record a value a workload observed during the traced phase. */
  def note(name: String, v: Double): Unit =
    if (on) notes.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v
  def noted(name: String): Seq[Double] = notes.get(name).map(_.toSeq).getOrElse(Nil)

  private val jobCount = new AtomicLong()
  /** Run `f` and count the Spark jobs it started. */
  def jobsDuring[T](f: => T): (T, Long) = {
    org.apache.spark.geobenchbridge.Bus.drain(spark.sparkContext)
    val j0 = jobCount.get()
    val r = f
    org.apache.spark.geobenchbridge.Bus.drain(spark.sparkContext)
    (r, jobCount.get() - j0)
  }

  // ---- per-op accounting ---------------------------------------------
  private final class Acc(val kind: Int, val startMs: Long) {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0L; var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
    val stageTasks = mutable.Map.empty[Int, ArrayBuffer[Long]]
    val stageWall = mutable.Map.empty[Int, Long]
    val plans = ArrayBuffer.empty[SparkPlan]
  }
  final case class OpStat(kind: Int, wallMs: Double, jobs: Int, stages: Int, tasks: Int,
                          runMs: Long, gapMs: Double, shuffleW: Long, shuffleR: Long,
                          spill: Long, skew: Double, fsOps: Long, filesScanned: Long)
  val opStats = ArrayBuffer.empty[OpStat]
  @volatile private var cur: Acc = _
  private var curOp = -1
  private var fs0 = 0L

  def beginOp(i: Int, kind: Int): Unit = if (on) {
    curOp = i
    fs0 = CountingFs.calls.get()
    cur = new Acc(kind, System.currentTimeMillis())
  }

  def endOp(wallMs: Double): Unit = if (on && cur != null) {
    val endMs = System.currentTimeMillis()
    spans += Span(curOp, "op", "", (System.nanoTime() - wallMs * 1e6).toLong, System.nanoTime())
    org.apache.spark.geobenchbridge.Bus.drain(spark.sparkContext)
    val a = cur
    cur = null
    val fsOps = CountingFs.calls.get() - fs0
    val covered = union(a.jobSpans.toSeq.map { case (s, e) => (math.max(s, a.startMs), math.min(e, endMs)) })
    val skew = a.stageWall.maxByOption(_._2).flatMap { case (sid, _) => a.stageTasks.get(sid) }
      .filter(_.nonEmpty)
      .map(ts => ts.max / math.max(1.0, Main.median(ts.map(_.toDouble).toSeq)))
      .getOrElse(1.0)
    val nodes = a.plans.flatMap(PlanWalk.nodes)
    val files = nodes.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum
    opStats += OpStat(a.kind, wallMs, a.jobs, a.stages, a.tasks, a.runMs,
      math.max(0.0, wallMs - covered), a.shuffleW, a.shuffleR, a.spill, skew, fsOps, files)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }

  /** Engine metrics averaged over the traced ops. */
  def sparkPerOp(name: String): Double = {
    val s = opStats.toSeq
    if (s.isEmpty) 0.0
    else name match {
      case "spark.jobs_per_op" => Main.mean(s.map(_.jobs.toDouble))
      case "spark.stages_per_op" => Main.mean(s.map(_.stages.toDouble))
      case "spark.tasks_per_op" => Main.mean(s.map(_.tasks.toDouble))
      case "spark.slot_busy_frac" => s.map(_.runMs).sum / math.max(1e-9, s.map(_.wallMs).sum * slots)
      case "spark.driver_gap_ms_per_op" => Main.mean(s.map(_.gapMs))
      case "spark.shuffle_write_mb_per_op" => Main.mean(s.map(_.shuffleW / 1048576.0))
      case "spark.shuffle_read_mb_per_op" => Main.mean(s.map(_.shuffleR / 1048576.0))
      case "spark.spill_mb_per_op" => Main.mean(s.map(_.spill / 1048576.0))
      case "spark.task_skew" => Main.median(s.map(_.skew))
      case other => throw new IllegalArgumentException(s"unknown engine metric $other")
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet()
      val a = cur
      if (a != null) a.synchronized { a.jobs += 1; a.jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = cur
      if (a != null) a.synchronized {
        a.jobStart.remove(e.jobId).foreach(s => a.jobSpans += ((s, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = cur
      if (a != null) a.synchronized {
        a.stages += 1
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime) a.stageWall(i.stageId) = c - s
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = cur
      if (a != null && e.taskMetrics != null) a.synchronized {
        val m = e.taskMetrics
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val a = cur
      if (a != null) a.synchronized { a.plans += qe.executedPlan }
    }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Register the listeners (traced runs only). */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  def writeSpans(dir: File, name: String): Unit = {
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"$name.spans.jsonl"), "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"op": ${s.op}, "name": "${s.name}", "parent": "${s.parent}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally out.close()
  }
}

/** Executed-plan walk that sees through adaptive execution and query
  * stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
}
