package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One completed operation of a measured window. */
final case class OpRecord(name: String, pass: Int, traced: Boolean, secs: Double, rows: Long, counters: Counters)

/** A measured window: completed operations, whole-pass times (with whether
  * the pass was traced), and failures. */
final case class WindowResult(records: Seq[OpRecord], passes: Seq[(Boolean, Double)], attempted: Int,
                              errors: Seq[String]) {
  def latencies: Seq[Double] = records.map(_.secs)
  def passSecs: Seq[Double] = passes.map(_._2)
  /** Input rows of one pass over the median pass time. */
  def rowsPerSec: Double = records.filter(_.pass == records.head.pass).map(_.rows).sum / Stats.median(passSecs)
  def only(traced: Boolean): WindowResult =
    WindowResult(records.filter(_.traced == traced), passes.filter(_._1 == traced), 0, Nil)
}

/**
 * Benchmark harness. Runs one workload in a closed loop with one client at
 * local[4] and writes its measurements as JSON to `--out`.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <file> --work <dir>
 *
 * Input files are written once, outside the timed set-up. Set-up
 * (session start, one warm pass) is done three times and its median
 * reported; the last set-up is kept for the timed window, which runs whole
 * passes until `--seconds` have elapsed. With `--trace 1` passes alternate between untraced and traced (Spark listener
 * and spans); the traced passes give the per-layer metrics, and the ratio
 * of the two kinds is the tracing overhead.
 */
object Main {
  val Cores = 4
  val SetupReps = 3

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs one operation and its check; the check runs after the timer stops. */
  private def runOp(op: Op, pass: Int, tracer: Tracer, probe: Option[SparkProbe]): Either[String, OpRecord] = {
    val t0 = System.nanoTime()
    val out = try Right(tracer.span(s"op:${op.name}")(op.run())) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val counters = probe.map(_.take()).getOrElse(Counters())
    val err = out match {
      case Left(e) => Some(s"${op.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(o) =>
        try o.check().map(m => s"${op.name} check failed: $m")
        catch { case e: Throwable => Some(s"${op.name} check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    probe.foreach(_.take()) // drop the check's own events
    log(f"pass $pass ${op.name} $secs%.4f s")
    err.foreach(log)
    err.toLeft(OpRecord(op.name, pass, probe.isDefined, secs, out.toOption.get.rows, counters))
  }

  /** Runs whole passes until `seconds` have elapsed. With a probe, every
    * second pass is traced (listener attached, spans recorded), so traced
    * and untraced passes share the same warm-up and machine state. */
  def window(ops: IndexedSeq[Op], seconds: Double, tracer: Tracer, probe: Option[SparkProbe]): WindowResult = {
    val records = ArrayBuffer.empty[OpRecord]
    val passes = ArrayBuffer.empty[(Boolean, Double)]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    val start = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      pass += 1
      val on = probe.isDefined && pass % 2 == 0
      probe.foreach(p => if (on) p.attach() else p.detach())
      tracer.active = on
      val rs = ops.map { op =>
        tracer.op += 1
        attempted += 1
        runOp(op, pass, tracer, probe.filter(_ => on))
      }
      rs.foreach {
        case Right(r) => records += r
        case Left(e) => errors += e
      }
      if (rs.forall(_.isRight)) passes += ((on, rs.map(_.toOption.get.secs).sum))
    }
    probe.foreach(_.detach())
    tracer.active = false
    WindowResult(records.toSeq, passes.toSeq, attempted, errors.toSeq)
  }

  /** The end-to-end metrics of an untraced window. */
  def endToEnd(setupSecs: Seq[Double], w: WindowResult, peakHeapMb: Double): Seq[(String, Double)] = Seq(
    "setup_s" -> Stats.median(setupSecs),
    "rows_per_s" -> w.rowsPerSec,
    "pass_s" -> Stats.median(w.passSecs),
    "peak_heap_mb" -> peakHeapMb)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val wl = Workloads.byName(arg(args, "workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${arg(args, "workload")}"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val out = new File(arg(args, "out"))
    val work = new File(arg(args, "work"))
    deleteTree(work)
    work.mkdirs()

    val tracer = new Tracer
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    val inputSecs = if (!wl.hasInputFiles) 0.0 else Workloads.secs {
      val s = session(Cores)
      try wl.writeInputs(new Ctx(s, seed, work, tracer)) finally stop(s)
    }._2
    var spark: SparkSession = null
    var ops: IndexedSeq[Op] = IndexedSeq.empty
    var ctx: Ctx = null
    val setupSecs = (1 to SetupReps).map { rep =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(Cores)
      ctx = new Ctx(spark, seed, work, tracer)
      ops = wl.prepare(ctx)
      val warm = ops.map(op => try Right(op.run()) catch { case e: Throwable => Left(s"${op.name} threw $e") })
      val secs = (System.nanoTime() - t0) / 1e9
      warm.zip(ops).foreach { case (r, op) =>
        attempted += 1
        val err = r.fold(Some(_), o => o.check().map(m => s"${op.name} check failed: $m"))
        err.foreach { e => log(s"set-up $rep: $e"); errors += e }
      }
      log(f"set-up $rep: $secs%.3f s")
      secs
    }
    var heapMb = heapAfterGcMb()

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def report(w: WindowResult): Unit = {
      val (p, tailV, n) = Stats.tail(w.latencies)
      info ++= Seq("op_p50_s" -> Stats.median(w.latencies), "op_tail_s" -> tailV,
        "op_tail_percentile" -> p, "op_samples" -> n, "passes" -> w.passSecs.length,
        "setup_reps_s" -> setupSecs.map(x => f"$x%.3f").mkString(" "), "input_write_s" -> inputSecs)
      if (ops.length > 1)
        info ++= w.records.groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (k, rs) => s"op_s.$k" -> Stats.median(rs.map(_.secs)) }
    }

    if (!traced) {
      val w = window(ops, seconds, tracer, None)
      attempted += w.attempted
      errors ++= w.errors
      heapMb = math.max(heapMb, heapAfterGcMb())
      report(w)
      metrics ++= endToEnd(setupSecs, w, heapMb)
    } else {
      val probe = new SparkProbe(spark)
      val all = window(ops, seconds, tracer, Some(probe))
      val (w, plain) = (all.only(true), all.only(false))
      attempted += all.attempted
      errors ++= all.errors
      heapMb = math.max(heapMb, heapAfterGcMb())
      report(plain)
      info("peak_heap_mb") = heapMb
      info("trace.rows_per_s_untraced") = plain.rowsPerSec
      info("trace.rows_per_s_traced") = w.rowsPerSec
      info("trace.pass_s_untraced") = Stats.median(plain.passSecs)
      info("trace.pass_s_traced") = Stats.median(w.passSecs)
      metrics ++= Layers.universal(w, plain, tracer, Cores, Layers.fixedOverhead(spark))
      info ++= Trace.selfSecondsByName(tracer.spans)
        .groupBy { case (k, _) => k.takeWhile(_ != ':') }
        .map { case (k, vs) => s"self.$k" -> vs.values.sum / w.records.length }
      info ++= wl.layers(ctx, w)
      Files.write(new File(work.getParentFile, s"trace-${wl.name}-$seed.jsonl").toPath,
        tracer.spans.map(Json.span).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    val result = Json.obj(Seq(
      "workload" -> wl.name, "attempted" -> attempted, "failed" -> errors.length,
      "errors" -> errors.toSeq, "metrics" -> metrics.toSeq, "info" -> info.toSeq) ++
      wl.extraOutput(ctx))
    stop(spark)
    Files.write(out.toPath, result.getBytes(StandardCharsets.UTF_8))
  }
}

/** The per-layer metrics every workload reports from its traced window. */
object Layers {
  def universal(w: WindowResult, plain: WindowResult, tracer: Tracer, cores: Int,
                fixedOverheadS: Double): Seq[(String, Double)] = {
    val n = math.max(1, w.records.length).toDouble
    val cs = w.records.map(_.counters)
    def perOp(f: Counters => Long): Double = cs.map(f).sum / n
    val wall = w.latencies.sum
    val idle = w.records.map(r => r.secs - r.counters.busyMs / 1000.0)
    val byName = tracer.spans.groupBy(_.name).map { case (k, ss) => k -> ss.map(_.durNs).sum / 1e9 }
    Seq(
      "spark.jobs" -> perOp(_.jobs),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.idle_s" -> math.max(0.0, idle.sum / n),
      "spark.cpu_frac" -> cs.map(_.cpuNs).sum / 1e9 / (wall * cores),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes),
      "spark.spill_bytes" -> perOp(_.spillBytes),
      "spark.read_bytes" -> perOp(_.readBytes),
      "spark.write_bytes" -> perOp(_.writeBytes),
      "spark.task_skew" -> Stats.median(cs.map(_.worstSkew)),
      "plan.construct_s" -> byName.getOrElse("construct", 0.0) / n,
      "plan.action_s" -> byName.getOrElse("action", 0.0) / n,
      "plan.catalyst_s" -> cs.map(_.catalystNs).sum / 1e9 / n,
      "plan.fixed_overhead_s" -> fixedOverheadS,
      "operators.broadcast_bytes" -> perOp(_.broadcastBytes),
      "operators.join_rows" -> perOp(_.joinRows),
      "trace.overhead_frac" -> (1.0 - w.rowsPerSec / plain.rowsPerSec),
      "trace.spans_per_op" -> tracer.spans.length / n)
  }

  /** The flagship pipeline at 1,000 rows: what one invocation costs when
    * there is almost no data (median of five after two warm runs). */
  def fixedOverhead(s: SparkSession): Double = {
    def once(): Double = Workloads.secs(Flagship.pipeline(s, 0L, 1000L).agg(sum("cnt")).head())._2
    once(); once()
    Stats.median((1 to 5).map(_ => once()))
  }
}
