package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Fetcher, TableSink}

/** `TableSink` decorator: a span around each call into the sink, plus the
  * files and bytes each overwrite left in the lake. Handed to the
  * pipeline through its `sink0` parameter.
  */
final class TracedSink(inner: TableSink, outDir: String, tr: Tracer)
    extends TableSink {
  override def overwrite(df: DataFrame, table: String, refMonth: String)
      : Unit = {
    tr.span(s"sink.overwrite.${TracedSink.group(table)}")(
      inner.overwrite(df, table, refMonth))
    val (files, bytes) = TracedSink.tree(Paths.get(outDir, table))
    tr.add("sink.files_written", files.toDouble)
    tr.add("sink.bytes_written", bytes.toDouble)
  }

  override def readBack(spark: SparkSession, table: String, refMonth: String)
      : DataFrame =
    tr.span("sink.readback")(inner.readBack(spark, table, refMonth))

  override def observesWrites: Boolean = inner.observesWrites
}

object TracedSink {
  private val Big = Set("estabelecimentos", "empresas", "socios")

  /** The three big tables by name; the seven small ones as one group. */
  def group(table: String): String = {
    val t = table.stripPrefix("rfb_")
    if (Big(t)) t else "small_tables"
  }

  /** (data files, bytes) under `dir`, ignoring hidden and marker files. */
  def tree(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}

/** `Fetcher` decorator: counts and times every call and every failure.
  * Handed to the pipeline through its `fetcher` parameter.
  */
final class TracedFetcher(inner: Fetcher, tr: Tracer) extends Fetcher {
  private def call[A](f: => A): A = {
    tr.add("fetch.calls", 1)
    val t0 = System.nanoTime()
    try tr.span("fetch")(f)
    catch { case e: Exception => tr.add("fetch.failures", 1); throw e }
    finally tr.add("fetch_s", (System.nanoTime() - t0) / 1e9)
  }
  override def fetchText(url: String): String = call(inner.fetchText(url))
  override def fetchFile(url: String, dest: Path): Unit =
    call(inner.fetchFile(url, dest))
}
