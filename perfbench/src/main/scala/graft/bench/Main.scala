package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed pass of a workload: one month ingest, or one pass over the
  * workload's queries. `ops` are the operations a user waits for, by
  * name: the ingest itself, or each query.
  */
final case class Pass(ops: Seq[(String, Double)], attempted: Long,
    failed: Long, correct: Boolean, writtenBytes: Long) {
  def seconds: Double = ops.map(_._2).sum
}

final case class Metric(name: String, value: Double, unit: String)

/** What the workloads share: the session, the run's arguments, and the
  * clock that splits set-up from measurement.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args,
    jvmStartMs: Long, excludedS0: Double) {
  private var excludedS = excludedS0
  val phases = scala.collection.mutable.Map[String, Double]()

  /** Runs `f` outside set-up time: input generation, not set-up work. */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally excludedS += (System.nanoTime() - t0) / 1e9
  }

  /** Runs `f` as a named part of set-up, recording its time. */
  def setupStep[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }

  /** Set-up so far: the time since process start, less untimed work. */
  def setupSeconds: Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS

  def work(name: String): Path = args.work.resolve(name)
}

trait Workload {
  /** Generates inputs (untimed) and warms up (set-up). */
  def setup(ctx: Ctx): Unit
  /** One timed pass; `k` counts them from 0. */
  def pass(ctx: Ctx, tr: Tracer, k: Int): Pass
  /** Whether set-up's own checks held; asked once, after every pass. */
  def finish(ctx: Ctx): Boolean
}

/** The benchmark's one entry point. Runs one workload for one seed and
  * prints the result as the last line of standard output; with tracing,
  * also writes the span file and prints per-layer metrics instead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: Path, expected: Path, work: Path, out: Path,
      record: Boolean)

  val Cores = 4

  /** Timed passes per run, at least. A run's figures are medians over
    * them: pass times still vary while the JIT settles after the
    * warm-up, and the median keeps one slow pass out.
    */
  val MinPasses = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--data")),
      Paths.get(need("--expected")), Paths.get(need("--work")),
      Paths.get(need("--out")), m.get("--record").contains("1"))
  }

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.scratch.dir", work.resolve("scratch").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    graft.plans.BoundedLevenshteinRule.register(s)
    graft.plans.AsOfJoinPlan.register(s)
    s
  }

  private def workload(name: String): Workload = name match {
    case "ingest_month" => new IngestMonth
    case "query_mix" => new QueryWorkload(QueryWorkload.Mix)
    case other => sys.error(s"unknown workload $other")
  }

  /** Timed passes for at least `seconds` and at least [[MinPasses]]. With
    * taps, each untraced pass is followed by a traced one, so both kinds
    * see the same JIT and host state and their difference is the cost of
    * tracing.
    */
  private def measure(w: Workload, ctx: Ctx, taps: Option[(Tracer, Tracing.Taps)])
      : (Seq[Pass], Seq[Pass]) = {
    val t0 = System.nanoTime()
    val plain = ArrayBuffer[Pass]()
    val traced = ArrayBuffer[Pass]()
    def log(kind: String, p: Pass): Unit =
      System.err.println(f"perfbench: $kind pass ${plain.size} ${p.seconds}%.3f s " +
        p.ops.map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
    while (plain.size < MinPasses ||
        (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      val k = plain.size
      plain += w.pass(ctx, Off, k)
      log("untraced", plain.last)
      taps.foreach { case (tr, t) =>
        t.attach()
        try traced += tr.span(s"pass$k")(w.pass(ctx, tr, k))
        finally t.detach()
        log("traced", traced.last)
      }
    }
    (plain.toSeq, traced.toSeq)
  }

  /** The tracer of untimed work and untraced passes: records nothing. */
  val Off = new Tracer(false, "")

  /** Per-operation times: each named operation's median over passes. */
  private def opTimes(passes: Seq[Pass]): Seq[Double] =
    passes.flatMap(_.ops).groupBy(_._1).values
      .map(v => Stats.median(v.map(_._2))).toSeq

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val calibration = Calibration.seconds()
    val w = workload(a.workload)
    Files.createDirectories(a.work)
    val spark = session(a.work)
    // the calibration loop is a reading of the host, not set-up work
    val ctx = new Ctx(spark, a, jvmStartMs, calibration)
    ctx.phases("session") =
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - calibration
    try {
      w.setup(ctx)
      if (a.record) { println("""{"recorded": true}"""); return }
      val setupS = ctx.setupSeconds
      System.err.println(f"perfbench: set-up $setupS%.3f s " +
        ctx.phases.toSeq.sorted.map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
      val taps = if (!a.trace) None else {
        val tr = new Tracer(true,
          s"${a.workload}-seed${a.seed}-${ProcessHandle.current.pid}")
        Some(tr -> new Tracing.Taps(spark, tr))
      }
      val (plain, traced) = measure(w, ctx, taps)
      taps.foreach { case (tr, _) =>
        tr.write(a.out.resolve(s"${a.workload}-seed${a.seed}-spans.jsonl"))
      }
      val finished = w.finish(ctx)
      val all = plain ++ traced
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val correct = finished && all.forall(_.correct) && failed == 0
      val ops = opTimes(plain)
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_s", Stats.median(ops), "s"),
        Metric("pass_s", Stats.median(plain.map(_.seconds)), "s"),
        Metric("written_mb", Stats.median(plain.map(_.writtenBytes / 1e6)), "MB"))
      val metrics = taps match {
        case Some((tr, t)) =>
          val untracedPass = Stats.median(plain.map(_.seconds))
          val overhead = Stats.median(traced.map(_.seconds)) - untracedPass
          LayerMetrics(tr, t.sparkTap, traced, Cores) ++ Seq(
            Metric("host.calibration_s", calibration, "s"),
            Metric("host.peak_rss_mb", Proc.peakRssMb(), "MB"),
            Metric("setup.session_s", ctx.phases("session"), "s"),
            Metric("setup.warmup_s", ctx.phases.getOrElse("warmup", 0.0), "s"),
            Metric("failed_frac", failed.toDouble / attempted, "1"),
            Metric("trace.overhead_s", overhead, "s"),
            Metric("trace.overhead_frac", overhead / untracedPass, "1"))
        case None => endToEnd
      }
      if (!correct) System.err.println(s"CORRECTNESS FAILED: ${a.workload}")
      println(s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {""" +
        metrics.map(m => s"""${Json.str(m.name)}: {"value": """ +
          s"""${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}""")
          .mkString(", ") + "}}")
      System.out.flush()
    } finally {
      graft.operators.MinHashDedup.clearScratch()
      spark.stop()
    }
  }
}
