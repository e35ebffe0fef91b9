package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Layer observation from outside the program: Spark's public listeners,
 * registered on the session the benchmark hands to the server, and spans
 * the benchmark records around its own direct calls into each layer.
 */
object Trace {

  /** Cumulative executor-side counters at one instant. */
  final case class Snap(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }

  /** SparkListener counting jobs, tasks, executor run/CPU/GC time, shuffle
    * bytes (read + written) and spill. */
  final class Counters extends SparkListener {
    private val jobs, jobsEnded, tasks, runMs, cpuNs, gcMs, shuffle, spill = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    /** Snapshot once every started job's end event (posted after its tasks'
      * end events) has been delivered, or after 2 s. */
    def snap(): Snap = {
      val deadline = System.nanoTime() + 2000000000L
      while (jobsEnded.get < jobs.get && System.nanoTime() < deadline) Thread.sleep(2)
      Snap(jobs.get, tasks.get, runMs.get, cpuNs.get, gcMs.get, shuffle.get, spill.get)
    }
  }

  /** One finished Dataset action: Catalyst phase times and the files the
    * parquet scans opened. */
  final case class Action(atNs: Long, analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, files: Long, bytes: Long)

  final class Actions extends QueryExecutionListener {
    val done = new ConcurrentLinkedQueue[Action]()
    private val n = new AtomicLong
    def count: Long = n.get
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val scans = leaves(qe.executedPlan).filter(_.nodeName.startsWith("Scan parquet"))
      def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      done.add(Action(System.nanoTime(), ms("analysis"), ms("optimization"),
        ms("planning"), metric("numFiles"), metric("filesSize")))
      n.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      n.incrementAndGet()
    /** Wait (up to 2 s) until `k` actions have been reported. */
    def await(k: Long): Unit = {
      val deadline = System.nanoTime() + 2000000000L
      while (n.get < k && System.nanoTime() < deadline) Thread.sleep(2)
    }
    def since(ns: Long): Seq[Action] = done.asScala.filter(_.atNs >= ns).toSeq
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves)
  }

  /** One micro-batch progress report of a streaming query. */
  final case class Batch(rows: Long, triggerMs: Long, latestOffsetMs: Long, addBatchMs: Long)

  final class Streams extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Batch(e.progress.numInputRows, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("latestOffset", 0L), d.getOrElse("addBatch", 0L)))
    }
  }

  /** A timed call: name, interval, the span that caused it, the request it
    * belongs to, and the executor counters at both ends. */
  final case class Span(id: Int, name: String, parent: Int, req: Long,
                        startNs: Long, endNs: Long, before: Snap, after: Snap) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** The listeners of one run plus its span log (kept in memory, written out
  * when the run ends). */
final class Trace(spark: SparkSession) {
  import Trace._
  val counters = new Counters
  val actions = new Actions
  val streams = new Streams
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(actions)
  spark.streams.addListener(streams)

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Time `body` as a span nested under the innermost open span. */
  def span[A](name: String, req: Long)(body: => A): A = {
    val id = spans.synchronized(spans.size)
    spans.synchronized(spans += null)
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val before = counters.snap()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans.synchronized(spans(id) = Span(id, name, parent, req, t0, t1, before, counters.snap()))
    }
  }

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(s => s != null && s.name == name).toSeq)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.synchronized(spans.filter(_ != null).foreach { s =>
      val d = s.after - s.before
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${d.jobs},"tasks":${d.tasks},""" +
        s""""cpu_ns":${d.cpuNs},"gc_ms":${d.gcMs},"shuffle_bytes":${d.shuffleBytes}}""")
    }) finally w.close()
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(actions)
    spark.streams.removeListener(streams)
  }
}
