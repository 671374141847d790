package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: wall time plus the engine counters that
  * moved while it ran. `parent` is the index of the enclosing span. */
final case class Span(name: String, parent: Int, startMs: Long, wallS: Double,
    counters: Map[String, Double], gapS: Double)

final class SpanToken(val idx: Int, val before: Map[String, Double], val ms0: Long,
    val t0: Long)

/** Records spans around the harness's calls into each layer, and Spark's
  * own counters (listener events, query phases, codegen, GC) so that each
  * span carries the engine work it caused. Only installed for traced runs;
  * untraced runs pay nothing for it. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var open = List.empty[Int]

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      totals("jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      add("stages", 1)
      add("tasks", i.numTasks)
      if (m != null) {
        add("task_s", m.executorRunTime / 1e3)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("spill_mb", m.diskBytesSpilled / 1048576.0)
        add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = add("unpersists", 1)
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    add("sql_executions", 1)
    add("analysis_s", ms("analysis"))
    add("optimization_s", ms("optimization"))
    add("physical_s", ms("planning"))
    val plan: SparkPlan = qe.executedPlan
    add("scans", collect(plan) { case s: InMemoryTableScanExec => s }.size)
    add("broadcast_mb", collect(plan) { case b: BroadcastExchangeExec => b }
      .flatMap(_.metrics.get("dataSize")).map(_.value).sum / 1048576.0)
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap
      Tracer.this.synchronized {
        progress += d + ("rows" -> e.progress.numInputRows.toDouble)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qel)
  spark.streams.addListener(sql)

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  /** Totals so far, including codegen and GC, which are JVM-wide. `end`
    * drains the listener bus first, so a closing span sees all of its
    * events; an opening span does not need to, because every span end and
    * every op check before it drained already. A drain can wait 10 ms, so
    * nested spans that only need a wall time use [[mark]] instead. */
  private def snapshot(drained: Boolean): Map[String, Double] = {
    if (drained) drain()
    val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    synchronized(totals.toMap) ++ Map(
      "codegen_compile_s" -> codegen.compileTime / 1e9,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "gc_s" -> gcS)
  }

  /** Seconds of [t0, t1] (epoch ms) during which no job was running. A
    * job that has not ended (one stuck past its op's deadline) runs to t1. */
  private def gap(t0: Long, t1: Long): Double = synchronized {
    val iv = (jobSpans ++ jobStart.values.map(s => (s, t1)))
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    math.max(0L, (t1 - t0) - busy) / 1e3
  }

  def begin(name: String): SpanToken = {
    val before = snapshot(drained = false)
    val idx = synchronized {
      spans += Span(name, open.headOption.getOrElse(-1), 0L, 0.0, Map.empty, 0.0)
      open = (spans.size - 1) :: open
      spans.size - 1
    }
    new SpanToken(idx, before, System.currentTimeMillis(), Util.now())
  }

  /** Close a span. `charged` replaces the measured wall time (an op that
    * passed its deadline is charged the deadline). */
  def end(t: SpanToken, charged: Option[Double] = None): Unit = {
    val wall = charged.getOrElse(Util.secs(t.t0, Util.now()))
    val ms1 = System.currentTimeMillis()
    val after = snapshot(drained = true)
    val delta = after.map { case (k, v) => k -> (v - t.before.getOrElse(k, 0.0)) }
    synchronized {
      spans(t.idx) = Span(spans(t.idx).name, spans(t.idx).parent, t.ms0, wall, delta,
        gap(t.ms0, ms1))
      open = open.filterNot(_ == t.idx)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val t = begin(name)
    try body finally end(t)
  }

  /** A span with a wall time and no counters, under the open span. */
  def mark(name: String, wallS: Double): Unit = synchronized {
    spans += Span(name, open.headOption.getOrElse(-1), System.currentTimeMillis(), wallS,
      Map.empty, 0.0)
  }

  /** Wall time of span `i` not covered by its child spans. */
  def selfS(i: Int): Double =
    spans(i).wallS - spans.iterator.filter(_.parent == i).map(_.wallS).sum

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(sql)
  }
}
