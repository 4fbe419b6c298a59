package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.{LocalFetcher, ParquetSink, PipelineReport, RfbPipeline, RfbTables, Status}

/** One month through the pipeline's public phase calls, as an operator
  * runs it: plan, download, extract, fix, load, report.
  */
object Ingest {
  val RefMonth = "202601"

  /** Rows per big-table part: 31 parts make a month of ~470k rows. */
  val RowsPerPart = 15000
  /** Untimed ingests of the measured month in set-up. */
  val WarmPasses = 2

  final case class Run(seconds: Double, report: PipelineReport,
      pipe: RfbPipeline)

  /** Runs the month in `src` into `work`/`lake`, served by `LocalFetcher`.
    * Traced: a span per phase, and decorated fetcher and sink.
    */
  def run(spark: SparkSession, tr: Tracer, src: Path, work: Path, lake: Path)
      : Run = {
    val local = new LocalFetcher(src)
    val fetcher = if (tr.enabled) new TracedFetcher(local, tr) else local
    val parquet = new ParquetSink(lake.toString)
    val sink = if (tr.enabled) new TracedSink(parquet, lake.toString, tr) else parquet
    val pipe = new RfbPipeline(spark, work, lake.toString, RefMonth, fetcher,
      backoffMs = 0L, sink0 = sink, ioParallelism = Main.Cores)
    val t0 = System.nanoTime()
    val planned = tr.span("pipeline.plan")(pipe.plan(MonthGen.ListingUrl))
    val downloaded = tr.span("pipeline.download")(pipe.download(planned))
    val extracted = tr.span("pipeline.extract")(pipe.extract(downloaded))
    val fixed = tr.span("pipeline.fix")(pipe.fix(extracted))
    val read0 = Proc.readBytes()
    val loaded = tr.span("pipeline.load")(pipe.load(fixed))
    val loadRead = Proc.readBytes() - read0
    val report = tr.span("pipeline.report")(pipe.report(loaded))
    val seconds = (System.nanoTime() - t0) / 1e9
    if (tr.enabled) {
      // work the fix phase did: the entries it took from pendente
      val fixedNow = extracted.zip(fixed).collect {
        case (before, after) if before.statusCorrecao == Status.Pendente &&
            after.statusCorrecao == Status.Sucesso => (before, after)
      }
      tr.add("pipeline.fix.files", fixedNow.map(_._2.arquivosCorrigidos.size).sum)
      tr.add("pipeline.fix.bytes_in",
        fixedNow.flatMap(_._1.arquivosExtraidos).map(size).sum)
      tr.add("pipeline.fix.bytes_out",
        fixedNow.flatMap(_._2.arquivosCorrigidos).map(size).sum)
      tr.add("pipeline.fix.rows", fixedNow.map(_._2.linhasCorrigidas).sum)
      val tables = pipe.lastAudits.keySet
      tr.add("pipeline.load.rows", pipe.lastAudits.values.map(_.rows).sum)
      tr.add("pipeline.load.read_bytes", loadRead)
      tr.add("pipeline.load.csv_bytes", loaded
        .filter(_.statusCorrecao == Status.Sucesso)
        .flatMap(_.arquivosCorrigidos)
        .filter(f => RfbTables.route(f).exists(tables)).map(size).sum)
    }
    Run(seconds, report, pipe)
  }

  private def size(f: String): Double = Files.size(Paths.get(f)).toDouble

  /** The ingest's own checks: every archive loaded, the rows of each table
    * it loaded equal to the rows generated, every audit passed.
    */
  def correct(r: Run, month: MonthGen.Month): Boolean = {
    val audits = r.pipe.lastAudits
    val ok = r.report.sucesso == month.archives.size &&
      audits.nonEmpty && audits.forall { case (t, a) =>
        a.passed && month.rows.get(t).contains(a.rows)
      }
    if (!ok) System.err.println(
      s"ingest check failed: ${r.report.sucesso}/${month.archives.size} " +
        s"loaded; failed ${r.report.failed.map(_.arquivo).mkString(",")}; " +
        s"audits ${audits.values.mkString(", ")}; generated ${month.rows}; " +
        s"load errors ${r.pipe.lastLoadErrors}")
    ok
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def lakeBytes(lake: Path): Long = TracedSink.tree(lake)._2
}

/** A fresh month, ingested from scratch each pass. */
final class IngestMonth extends Workload {
  private var month: MonthGen.Month = _
  private var warmOk = false
  private def src(ctx: Ctx) = ctx.work("month")

  def setup(ctx: Ctx): Unit = {
    month = ctx.untimed(MonthGen.write(src(ctx), ctx.args.seed, Ingest.RowsPerPart))
    // the first ingest loads every class and compiles the plans; the JIT
    // is still catching up on the hot loops in the next ones, each ~5%
    // faster than the one before
    ctx.setupStep("warmup") {
      warmOk = (1 to Ingest.WarmPasses).forall(j => pass(ctx, Main.Off, -j).correct)
    }
  }

  def pass(ctx: Ctx, tr: Tracer, k: Int): Pass = {
    val work = ctx.work("ingest-work")
    val lake = ctx.work("ingest-lake")
    Ingest.delete(work); Ingest.delete(lake)
    val w0 = Proc.writtenBytes()
    val r = Ingest.run(ctx.spark, tr, src(ctx), work, lake)
    val written = Proc.writtenBytes() - w0
    val ok = Ingest.correct(r, month)
    tr.add("sink.lake_bytes", Ingest.lakeBytes(lake))
    tr.add("sink.csv_bytes", month.csvUtf8Bytes)
    Pass(Seq(s"ingest$k" -> r.seconds), month.archives.size,
      month.archives.size - r.report.sucesso, ok, written)
  }

  override def finish(ctx: Ctx): Boolean = warmOk
}
