package graft.bench

/** Per-layer metrics of a traced phase, each a mean per pass (one ingest,
  * or one pass over a workload's queries). Every workload reports every
  * metric; a layer a workload does not reach reads 0.
  */
object LayerMetrics {
  val Families: Seq[String] = Seq("q", "st", "ts", "aj", "ev", "md", "pa",
    "vr", "rj", "tx", "dd", "ss", "gr", "rec", "er", "mm", "dc")

  private val SparkCounters = Seq("spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B", "spark.output_bytes" -> "B")

  def apply(tr: Tracer, tap: SparkTap, passes: Seq[Pass], cores: Int)
      : Seq[Metric] = {
    val n = passes.size.toDouble
    val spans = tr.spans
    def spanTotal(pred: Span => Boolean): Double =
      spans.filter(pred).map(_.duration / 1e9).sum
    def named(name: String): Double = spanTotal(_.name == name)
    def total(counter: String, pred: String => Boolean = _ => true): Double =
      tr.counter(counter).collect { case (at, v) if pred(at) => v }.sum
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def queryOf(at: String): String = at.split('/').lift(1).getOrElse("")
    val ops = passes.flatMap(_.ops)
    val queries = ops.map(_._1).toSet
    // plan and phase readings of the queries only, not the pipeline's
    // own executions
    def inQuery(at: String): Boolean = queries(queryOf(at))
    def inFamily(f: String)(at: String): Boolean =
      inQuery(at) && QueryWorkload.family(queryOf(at)) == f

    val loadSpans = spans.filter(_.name == "pipeline.load")
    val loadS = loadSpans.map(_.duration / 1e9).sum
    val fixS = named("pipeline.fix")
    val onLoad = (at: String) => at.contains("pipeline.load")
    // load wall time with no Spark job running, from the jobs' own times
    val jobs = scala.jdk.CollectionConverters.IterableHasAsScala(tap.jobs)
      .asScala.toSeq
    val noJob = loadSpans.map { s =>
      val (a, b) = (tr.epochMs(s.start), tr.epochMs(s.end))
      (b - a) - Span.unionLength(jobs.map(j =>
        (math.max(j._2, a), math.min(j._3, b))))
    }.sum / 1e3
    val passS = passes.map(_.seconds).sum

    val pipeline = Seq("plan", "download", "extract", "fix", "load", "report")
      .map(p => Metric(s"pipeline.${p}_s", named(s"pipeline.$p") / n, "s")) ++ Seq(
      Metric("pipeline.fix.files", total("pipeline.fix.files") / n, "count"),
      Metric("pipeline.fix.bytes_in", total("pipeline.fix.bytes_in") / n, "B"),
      Metric("pipeline.fix.bytes_out", total("pipeline.fix.bytes_out") / n, "B"),
      Metric("pipeline.fix.rows_per_s", ratio(total("pipeline.fix.rows"), fixS), "1/s"),
      Metric("pipeline.load.rows_per_s", ratio(total("pipeline.load.rows"), loadS), "1/s"),
      Metric("pipeline.load.read_amplification",
        ratio(total("pipeline.load.read_bytes"), total("pipeline.load.csv_bytes")), "1"),
      Metric("pipeline.load.cores_busy_frac",
        ratio(total("spark.executor_run_s", onLoad), loadS * cores), "1"),
      Metric("pipeline.load.no_job_s", noJob / n, "s"))
    val groups = Seq("estabelecimentos", "empresas", "socios", "small_tables")
    val sink = Seq(
      Metric("sink.overwrite_s", spanTotal(_.name.startsWith("sink.overwrite.")) / n, "s")) ++
      groups.map(g => Metric(s"sink.overwrite.${g}_s", named(s"sink.overwrite.$g") / n, "s")) ++
      Seq(Metric("sink.readback_s", named("sink.readback") / n, "s"),
        Metric("sink.files_written", total("sink.files_written") / n, "count"),
        Metric("sink.bytes_written", total("sink.bytes_written") / n, "B"),
        Metric("sink.lake_bytes_per_csv_byte",
          ratio(total("sink.lake_bytes"), total("sink.csv_bytes")), "1"))
    val fetch = Seq(
      Metric("fetch.calls", total("fetch.calls") / n, "count"),
      Metric("fetch.failures", total("fetch.failures") / n, "count"),
      Metric("fetch_s", total("fetch_s") / n, "s"))
    val query = Seq("build", "exec", "analysis", "optimization", "planning")
      .map(p => Metric(s"query.${p}_s", total(s"query.${p}_s", inQuery) / n, "s")) ++
      Families.map(f => Metric(s"family.${f}_s",
        ops.filter(o => QueryWorkload.family(o._1) == f).map(_._2).sum / n, "s")) ++
      Seq(Metric("family.dd.exchanges", total("plan.exchanges", inFamily("dd")) / n, "count"),
        Metric("family.dd.shuffle_write_bytes",
          total("spark.shuffle_write_bytes", inFamily("dd")) / n, "B"),
        Metric("plan.exchanges", total("plan.exchanges", inQuery) / n, "count"),
        Metric("plan.lambda_functions", total("plan.lambda_functions", inQuery) / n, "count"),
        Metric("operators.scratch_build_s", total("operators.scratch_build_s") / n, "s"),
        Metric("streaming.queries", total("streaming.queries") / n, "count"),
        Metric("streaming.batches", total("streaming.batches") / n, "count"),
        Metric("streaming.batch_s", total("streaming.batch_s") / n, "s"))
    val spark = SparkCounters.map { case (c, unit) =>
      Metric(c, total(c, _.startsWith("pass")) / n, unit)
    } :+ Metric("spark.cores_busy_frac",
      ratio(total("spark.executor_run_s", _.startsWith("pass")), passS * cores), "1")
    pipeline ++ sink ++ fetch ++ query ++ spark
  }
}
