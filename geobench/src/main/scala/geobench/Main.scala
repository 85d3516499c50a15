package geobench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation. `kind` is 0 or 1: every workload alternates two
  * op types, reported apart as `kind_a_ms_p50` / `kind_b_ms_p50`.
  * `rows` is the logical input the op covers (the numerator of
  * `rows_per_s`). `prepare` runs untimed before the op; `run` is the
  * timed call and returns a materialized answer; `check` compares that
  * answer with the driver-side oracle, untimed. */
final class Op(val kind: Int, val rows: Long,
               val prepare: () => Unit,
               val run: Tracer => Any,
               val check: Any => Boolean)

/** A workload builds its inputs from the seed and hands out a fixed,
  * seeded sequence of ops. */
trait Workload {
  /** Generate the inputs and hand them to the engine (files written,
    * frames cached). Called several times per run; each call replaces
    * the previous inputs, so set-up time is reported as a median. */
  def setup(rep: Int): Unit
  /** Op `i` of the seeded sequence; the sequence restarts at 0 for the
    * warm-up and for each timed phase. */
  def op(i: Int): Op
  /** Ops in one complete round of the workload's mix (every op type,
    * group, box and epoch position once). Timed phases stop only at a
    * round boundary, so every run measures the same mix. */
  def cycle: Int
  /** Number of warm-up ops run before timing (JIT, codegen, caches). */
  def warmupOps: Int
  /** Per-layer metrics only this workload reaches, measured after the
    * traced phase: Spark-free kernel loops, split pipeline calls, lake
    * file counts. */
  def layerMetrics(t: Tracer): Map[String, Double]
}

/** The benchmark's JVM side: one driver process, one client, closed
  * loop. Prints one JSON line (the result) as the last stdout line. */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        threads: Int, shufflePartitions: Int, work: File)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k -> v
      case other => throw new IllegalArgumentException(s"dangling argument ${other.mkString}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Conf(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--threads").toInt,
      get("--shuffle-partitions").toInt, new File(get("--work")))
  }

  /** Set-up is repeated this many times per run and reported as the
    * median, so one slow file-system moment does not move `setup_s`. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val c = parse(args)
    val tracer = new Tracer(c.threads)
    val spark = session(c)
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3
    if (c.trace) tracer.attach(spark)
    // Generating the inputs on the driver is part of set-up.
    val genT0 = System.nanoTime()
    val w: Workload = c.workload match {
      case "sjoin_batch" => new SjoinBatch(spark, c.seed)
      case "lake_append" => new LakeAppend(spark, tracer, c.seed, c.work)
      case "cc_cluster" => new CcCluster(spark, c.seed)
      case "dedup_cluster" => new DedupCluster(spark, c.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (System.nanoTime() - genT0) / 1e9
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    val warm = runOps(w, tracer, deadlineNs = Long.MaxValue, maxOps = w.warmupOps, unit = 1)
    fullGc()
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + genS + median(setupTimes) + warmS
    System.err.println(f"[geobench] session ${sessionS}%.2fs inputs ${genS}%.2fs setup reps " +
      setupTimes.map(s => f"$s%.2f").mkString(",") + f" warm-up ${warmS}%.2fs")

    val timed = runOps(w, tracer, System.nanoTime() + c.seconds * 1000000000L, Int.MaxValue, w.cycle)
    // Traced phase: tracing is switched on for rounds 0, 2, 4, .. of the
    // mix and off for rounds 1, 3, 5, .., so the overhead compares
    // traced with untraced runs of the same ops in the same phase and is
    // not confused with JIT drift or with a difference in the mix.
    val traced =
      if (!c.trace) None
      else {
        fullGc()
        val hostBefore = HostStat.sample()
        val r = runOps(w, tracer, System.nanoTime() + c.seconds * 1000000000L, Int.MaxValue,
          2 * w.cycle, traceOp = i => (i / w.cycle) % 2 == 0)
        val host = HostStat.between(hostBefore, HostStat.sample())
        tracer.on = false
        Some((r, host))
      }
    val layer = if (c.trace) w.layerMetrics(tracer) else Map.empty[String, Double]

    spark.catalog.clearCache()
    // Spark's ContextCleaner frees blocks of collected frames on its own
    // thread after a GC, so collect, let it run, and collect again, until
    // a round frees less than 1 MB (at least 3 rounds, at most 10).
    def usedMb() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    fullGc()
    val heapMb = ArrayBuffer(usedMb())
    while (heapMb.size < 11 && (heapMb.size < 4 || heapMb(heapMb.size - 2) - heapMb.last >= 1.0)) {
      Thread.sleep(300)
      fullGc()
      heapMb += usedMb()
    }
    val retainedMb = heapMb.last
    System.err.println("[geobench] heap MB after GCs: " + heapMb.map(m => f"$m%.1f").mkString(" "))

    val all = warm.ops ++ timed.ops ++ traced.toSeq.flatMap(_._1.ops)
    val attempted = all.size
    val failed = all.count(!_.ok)
    System.err.println(s"[geobench] ${c.workload} seed ${c.seed}: ${timed.ops.size} timed ops " +
      s"(${timed.ops.count(_.kind == 0)} kind a, ${timed.ops.count(_.kind == 1)} kind b), " +
      s"$attempted attempted, $failed failed")
    System.err.println("[geobench] timed op ms: " + timed.ops.map(o => f"${o.ms}%.0f").mkString(" "))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        // A pair is one op of each kind back to back (ops 2k and 2k+1).
        // A median over all ops of two kinds with different costs falls
        // between the two modes and jumps from run to run; medians per
        // pair and per kind do not. Ops that fail their check are timed
        // like the others: the failure is reported in `failed`, and the
        // times stay comparable with a run in which they pass.
        val pairs = timed.ops.grouped(2).filter(_.size == 2).toSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("pair_ms_p50", median(pairs.map(_.map(_.ms).sum)), "ms"),
          ("kind_a_ms_p50", median(timed.ops.filter(_.kind == 0).map(_.ms)), "ms"),
          ("kind_b_ms_p50", median(timed.ops.filter(_.kind == 1).map(_.ms)), "ms"),
          ("rows_per_s", median(pairs.map(p => p.map(_.rows).sum / (p.map(_.ms).sum / 1e3))), "1/s"),
          ("retained_heap_mb", retainedMb, "MB"))
      case Some((tr, host)) =>
        tracer.writeSpans(new File(c.work.getParentFile.getParentFile, "trace"),
          s"${c.workload}-${c.seed}")
        Layers.all.map { case (name, unit) =>
          val v = name match {
            case "op_ms_p50" => median(timed.ops.map(_.ms))
            case "op_ms_p90" => quantile(timed.ops.map(_.ms), 0.9)
            case "ops_timed" => timed.ops.size.toDouble
            case "trace.overhead_frac" =>
              // Both sides ran the same ops (whole rounds of the mix,
              // as many traced as untraced), so their totals compare.
              tr.ops.filter(_.traced).map(_.ms).sum / tr.ops.filter(!_.traced).map(_.ms).sum - 1.0
            case "host.steal_frac" => host._1
            case "host.other_cpu_frac" => host._2
            case "jvm.gc_ms_per_op" => mean(tr.ops.filter(_.traced).map(_.gcMs))
            case "jvm.gc_count_per_op" => mean(tr.ops.filter(_.traced).map(_.gcCount.toDouble))
            case n if n.startsWith("spark.") => tracer.sparkPerOp(n)
            case n => layer.getOrElse(n, 0.0)
          }
          (name, v, unit)
        }
    }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  def session(c: Conf): SparkSession = {
    val local = new File(c.work, "spark-local").getAbsolutePath
    val b = SparkSession.builder()
      .master(s"local[${c.threads}]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", c.shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The status store keeps the last 1000 jobs and SQL executions with
      // their plans even without a UI; keeping one of each stops that
      // bookkeeping from growing `retained_heap_mb` with the op count.
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(c.work, "warehouse").getAbsolutePath)
    if (c.trace) CountingFs.install(b)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(c.work, "checkpoints").getAbsolutePath)
    spark
  }

  final case class OpRec(kind: Int, ms: Double, rows: Long, ok: Boolean,
                         gcMs: Double, gcCount: Long, traced: Boolean)
  final case class Phase(ops: Vector[OpRec])

  /** Closed loop: the next op starts only after the previous one has
    * returned and been checked. Ops run in whole units of `unit` ops;
    * after the first unit, the next one starts only if, taking as long
    * as the last, it would end less than half a unit past the deadline,
    * so the phase ends on the unit boundary nearest the deadline. */
  def runOps(w: Workload, t: Tracer, deadlineNs: Long, maxOps: Int, unit: Int,
             traceOp: Int => Boolean = _ => false): Phase = {
    val out = ArrayBuffer.empty[OpRec]
    var i = 0
    var unitStart = System.nanoTime()
    var go = true
    while (go && i < maxOps) {
      if (i > 0 && i % unit == 0) {
        val now = System.nanoTime()
        go = now + (now - unitStart) / 2 <= deadlineNs
        unitStart = now
      }
      if (go) runOne(w, t, i, traceOp, out)
      i += 1
    }
    Phase(out.toVector)
  }

  private def runOne(w: Workload, t: Tracer, i: Int, traceOp: Int => Boolean,
                     out: ArrayBuffer[OpRec]): Unit = {
    val op = w.op(i)
    op.prepare()
    t.on = traceOp(i)
    val (gc0, gcN0) = gcTotals()
    t.beginOp(i, op.kind)
    val t0 = System.nanoTime()
    val res = try Right(op.run(t)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    t.endOp(ms)
    val (gc1, gcN1) = gcTotals()
    val ok = res match {
      case Right(v) =>
        val good = try op.check(v) catch { case NonFatal(_) => false }
        if (!good) System.err.println(s"[geobench] op $i (kind ${op.kind}) MISMATCH: got $v")
        good
      case Left(e) =>
        System.err.println(s"[geobench] op $i (kind ${op.kind}) FAILED: $e")
        false
    }
    out += OpRec(op.kind, ms, op.rows, ok, gc1 - gc0, gcN1 - gcN0, t.on)
  }

  def gcTotals(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans
    var ms = 0L; var n = 0L
    beans.forEach { b => ms += math.max(0L, b.getCollectionTime); n += math.max(0L, b.getCollectionCount) }
    (ms.toDouble, n)
  }

  def fullGc(): Unit = { System.gc(); System.gc() }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples (printed as null,
    * which fails the result rather than reporting a made-up number). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
