package graft.bench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own listener APIs, read from outside the program. Jobs carry
  * the benchmark's open span path in a local property that the benchmark
  * sets on its own thread (inherited by the threads Spark starts from
  * it), so every task's metrics land on the span that caused them.
  * Query-execution and streaming events carry no such property; they are
  * charged to the query open when they are handled, which is exact
  * because the traced run drains the listener bus before it leaves a
  * query.
  */
object Tracing {
  val PathProperty = "graft.bench.path"

  /** The listeners of a traced run. They are registered only around
    * traced passes; untraced passes run without them.
    */
  final class Taps(spark: SparkSession, tr: Tracer) {
    val sparkTap = new SparkTap(tr)
    private val query = new QueryTap(tr)

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(sparkTap)
      spark.listenerManager.register(query)
      tr.onPathChange = p => spark.sparkContext.setLocalProperty(PathProperty, p)
    }

    /** Drains the bus, so every event lands on its span, then unregisters. */
    def detach(): Unit = {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkTap)
      spark.listenerManager.unregister(query)
      tr.onPathChange = _ => ()
      spark.sparkContext.setLocalProperty(PathProperty, null)
    }
  }

  /** The path of the query a path lies in: `pass<k>/<query>`. */
  def queryPath(path: String): String = path.split('/').take(2).mkString("/")
}

final class SparkTap(tr: Tracer) extends SparkListener {
  private val jobPath = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stagePath = new ConcurrentHashMap[Int, String]()

  /** (path, start ms, end ms) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val path = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracing.PathProperty))).getOrElse("")
    jobPath.put(e.jobId, path)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stagePath.put(_, path))
    tr.addAt("spark.jobs", path, 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val path = jobPath.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (path != null && t0 != null) jobs.add((path, t0.longValue, e.time))
  }

  /** Streaming progress reaches every listener of the context, whichever
    * session ran the stream (the streaming queries run in their own). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: StreamingQueryListener.QueryStartedEvent =>
      tr.addAt("streaming.queries", Tracing.queryPath(tr.path), 1)
    case p: StreamingQueryListener.QueryProgressEvent =>
      val at = Tracing.queryPath(tr.path)
      tr.addAt("streaming.batches", at, 1)
      tr.addAt("streaming.batch_s", at, p.progress.batchDuration / 1e3)
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tr.addAt("spark.stages", stagePath.getOrDefault(e.stageInfo.stageId, ""), 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val path = stagePath.getOrDefault(e.stageId, "")
    tr.addAt("spark.tasks", path, 1)
    val m = e.taskMetrics
    if (m != null) {
      tr.addAt("spark.executor_run_s", path, m.executorRunTime / 1e3)
      tr.addAt("spark.executor_cpu_s", path, m.executorCpuTime / 1e9)
      tr.addAt("spark.gc_s", path, m.jvmGCTime / 1e3)
      tr.addAt("spark.shuffle_write_bytes", path,
        m.shuffleWriteMetrics.bytesWritten.toDouble)
      tr.addAt("spark.shuffle_read_bytes", path,
        (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
      tr.addAt("spark.spill_bytes", path, m.diskBytesSpilled.toDouble)
      tr.addAt("spark.input_bytes", path, m.inputMetrics.bytesRead.toDouble)
      tr.addAt("spark.output_bytes", path,
        m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

final class QueryTap(tr: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val path = Tracing.queryPath(tr.path)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => tr.addAt(s"query.${p}_s", path, s.durationMs / 1e3))
    }
    // events arrive in order and the noop write is a query's last
    // execution, so the plan left standing is the query's final plan
    val plan = QueryTap.nodes(qe.executedPlan)
    tr.setAt("plan.exchanges", path,
      plan.count(_.isInstanceOf[Exchange]).toDouble)
    tr.setAt("plan.lambda_functions", path, plan.map(_.expressions
      .map(_.collect { case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l }.size)
      .sum).sum.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object QueryTap {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }
}
