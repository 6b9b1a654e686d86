package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Tracing for the `--trace 1` run. Spans are recorded by the benchmark
 * around its own calls into each engine module (name, start, end,
 * parent, request id), kept in memory and written out at exit. Counts
 * come from Spark's public listener interfaces and from the executed
 * plans' SQL metrics, read from outside the engine.
 */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var req = 0L

  /** Time `body` as span `name` under the innermost open span; returns
   *  its result. A no-op wrapper when tracing is off.
   */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, req)
      }
    }

  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":${s.req}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, req: Long)
}

/** Engine-wide Spark counters from the public SparkListener events. */
final class EngineMeter extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskRunNs = 0L
  @volatile var shuffleBytes = 0L
  /** (launch, finish) wall-clock ms of every finished task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      taskRunNs += m.executorRunTime * 1000000L
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Milliseconds within [fromMs, toMs] during which at least one task
   *  ran (the union of task intervals).
   */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- taskSpans.sortBy(_._1)) {
      val s = math.max(s0, fromMs)
      val e = math.min(e0, toMs)
      if (e > s) {
        if (s > curE) {
          if (curE > curS) busy += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** Per-micro-batch durations from the public StreamingQueryListener. */
final class StreamMeter extends StreamingQueryListener {
  val addBatchMs = mutable.ArrayBuffer.empty[Double]
  val overheadMs = mutable.ArrayBuffer.empty[Double]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    if (e.progress.numInputRows > 0 && d.containsKey("addBatch")) {
      val add = d.get("addBatch").doubleValue()
      addBatchMs += add
      overheadMs += d.get("triggerExecution").doubleValue() - add
    }
  }
}

/** Scan-node SQL metrics of an executed query, summed over its file scans. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, bytes: Long, rows: Long)

  def scans(df: DataFrame): Scan = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(nodes.map(m(_, "numFiles")).sum, nodes.map(m(_, "filesSize")).sum,
      nodes.map(m(_, "numOutputRows")).sum)
  }
}
