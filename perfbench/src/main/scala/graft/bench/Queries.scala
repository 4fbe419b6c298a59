package graft.bench

import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.operators.MinHashDedup

object QueryWorkload {
  /** The part of the query surface a run can afford, from both ends of
    * it: short relational, higher-order, streaming, as-of and merge
    * queries, where per-query analysis, planning, job scheduling and
    * micro-batch machinery dominate; and corpus queries, where scratch
    * builds, LSH band self-joins and the text kernels do their work.
    */
  val Mix: Seq[String] = Seq(
    "q01_pricing_summary", "q52_higher_order", "st03_stream_dedup",
    "aj02_asof_exec", "md01_merge_upsert", "tx15_tfidf", "dd02_minhash_lsh",
    "ss03_ann_lsh")

  /** The scratch groups each owner query builds, as `graft.Bench` assigns
    * them: before an owner runs, its groups are cleared, so every pass
    * pays its own builds and sharers measure their marginal cost.
    */
  val ScratchOwner: Map[String, Seq[String]] = Map(
    "dd02_minhash_lsh" -> Seq("dd02_"),
    "dd03_simhash" -> Seq("dd03_"),
    "dd07_embedding_lsh_neardup" -> Seq("dd07_"),
    "ss04_ann_ivf" -> Seq("ss04_"),
    "gr01_pagerank" -> Seq("gr01_", "gr_pairs"),
    "gr03_bfs_hops" -> Seq("gr03_"),
    "dd06_dedup_clusters" -> Seq("dd06_"),
    "dd08_semantic_clusters" -> Seq("dd08_"),
    "md01_merge_upsert" -> Seq("md01_"))

  /** Untimed passes in set-up, the checked sorted one included. Over the
    * first five a pass gets ~8% faster each time; after them, by ~1%.
    */
  val WarmPasses = 5

  def family(query: String): String = query.takeWhile(_.isLetter)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `df` with its row count and an order-insensitive content hash (sum
    * of per-row xxhash64) observed while it is written, so the timed
    * execution is also the checked one.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"),
      sum(h.cast("decimal(38,0)")).as("hash"))
  }

  /** (rows, hash) per query, as recorded from a known-good build. */
  type Expected = Map[String, (Long, String)]

  def readExpected(file: java.nio.file.Path): Expected =
    if (!Files.exists(file)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(file.toFile)
      val it = root.fields()
      val out = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        out += e.getKey -> (e.getValue.get("rows").asLong,
          e.getValue.get("hash").asText)
      }
      out.result()
    }

  def writeExpected(file: java.nio.file.Path, e: Expected): Unit = {
    val body = e.toSeq.sortBy(_._1).map { case (q, (rows, hash)) =>
      s"""  ${Json.str(q)}: {"rows": $rows, "hash": ${Json.str(hash)}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.createDirectories(file.getParent)
    Files.write(file, body.getBytes("UTF-8"))
  }
}

/** A fixed set of queries over the fixed query dataset. The seed only
  * orders each pass, which moves every query's neighbours.
  */
final class QueryWorkload(queries: Seq[String]) extends Workload {
  import QueryWorkload._

  private var expected: Expected = Map.empty
  private var warmOk = false

  private def catalog(q: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(q, sys.error(s"no query $q"))

  /** Runs one query: the call that returns its DataFrame (eager scratch
    * builds and streaming drives happen there), then its noop write.
    * Returns its seconds and its (rows, hash), or the error.
    */
  private def runOne(ctx: Ctx, tr: Tracer, q: String)
      : (Double, Either[String, (Long, String)]) = {
    val spark = ctx.spark
    ScratchOwner.get(q).foreach(prefixes =>
      MinHashDedup.clearScratch(t => prefixes.exists(t.startsWith)))
    tr.span(q) {
      var seconds = 0.0
      def timed[A](name: String)(f: => A): A = tr.span(name) {
        val t0 = System.nanoTime()
        try f finally {
          val dt = (System.nanoTime() - t0) / 1e9
          seconds += dt
          tr.add(s"${name}_s", dt)
        }
      }
      val result =
        try {
          val df = timed("query.build")(catalog(q)(spark, ctx.args.data.toString))
          val obs = new Observation()
          timed("query.exec")(observed(df, obs).write.format("noop")
            .mode("overwrite").save())
          val m = obs.get
          Right((m("rows").asInstanceOf[Long],
            Option(m("hash")).map(_.toString).getOrElse("0")))
        } catch { case NonFatal(e) => Left(e.toString) }
      tr.add("operators.scratch_build_s",
        MinHashDedup.drainBuildSeconds().values.sum)
      if (tr.enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)
      (seconds, result)
    }
  }

  private def check(q: String, r: Either[String, (Long, String)]): Boolean =
    r match {
      case Left(err) =>
        System.err.println(s"query $q failed: $err"); false
      case Right(got) if !expected.get(q).contains(got) =>
        System.err.println(s"query $q: got (rows, hash) $got, " +
          s"expected ${expected.get(q)}"); false
      case _ => true
    }

  def setup(ctx: Ctx): Unit = {
    expected = readExpected(ctx.args.expected)
    val off = Main.Off
    val warm = ctx.setupStep("warmup") {
      MinHashDedup.drainBuildSeconds()
      val r = queries.sorted.map(q => q -> runOne(ctx, off, q)._2)
      MinHashDedup.clearScratch()
      r
    }
    if (ctx.args.record) {
      val got = warm.collect { case (q, Right(v)) => q -> v }.toMap
      require(warm.forall(_._2.isRight), s"queries failed while recording: " +
        warm.collect { case (q, Left(e)) => s"$q: $e" }.mkString("; "))
      writeExpected(ctx.args.expected, got)
    } else {
      warmOk = warm.forall { case (q, r) => check(q, r) }
      // pass times keep falling for several passes while the JIT catches
      // up with Spark's per-query planning code; passes measured on that
      // slope make a run's figure depend on how fast the host let it warm
      ctx.setupStep("warmup") {
        for (j <- 1 until WarmPasses) warmOk &= pass(ctx, Main.Off, -j).correct
      }
    }
  }

  override def finish(ctx: Ctx): Boolean = warmOk

  def pass(ctx: Ctx, tr: Tracer, k: Int): Pass = {
    MinHashDedup.clearScratch()
    val order = new scala.util.Random(ctx.args.seed * 1000003L + k)
      .shuffle(queries)
    val w0 = Proc.writtenBytes()
    val results = order.map(q => q -> runOne(ctx, tr, q))
    val written = Proc.writtenBytes() - w0
    val failed = results.count(_._2._2.isLeft)
    Pass(results.map { case (q, (s, _)) => q -> s }, results.size, failed,
      results.forall { case (q, (_, r)) => check(q, r) }, written)
  }
}
