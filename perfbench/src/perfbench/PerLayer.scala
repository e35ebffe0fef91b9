package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.MetricParser
import graft.planner.{QueryJson, QueryPlanner, TimelyApi}
import graft.sources.PointStore

import Gen._
import Main._

/**
 * The traced run's per-layer figures. After the workload's own phase (run at
 * concurrency 1 with the listeners on), sampled put batches and queries are
 * replayed as the server's steps, one direct call per span:
 *
 *   put batch: MetricParser.parse -> PointStore.write -> meta append
 *   query:     QueryJson.parseRequest -> PointStore.read ->
 *              TimelyApi.requireMatchingTags -> QueryPlanner.plan ->
 *              QueryJson.writeResponses, then the same request over HTTP
 *
 * A workload without its own subscription runs a short streaming tail, and
 * every traced run ends with one pass of the Timely gates, so every layer is
 * measured on every workload.
 */
object PerLayer {

  val names: Seq[(String, String)] = Seq(
    "model.parse_us_per_point" -> "us",
    "sources.write_ms_per_batch" -> "ms",
    "sources.meta_append_ms_per_batch" -> "ms",
    "spark.jobs_per_1k_points" -> "count",
    "spark.cpu_ms_per_1k_points" -> "ms",
    "sources.files_written" -> "count",
    "sources.files_per_partition" -> "count",
    "sources.read_ms" -> "ms",
    "sources.files_read_per_query" -> "count",
    "sources.bytes_read_per_query" -> "B",
    "planner.parse_ms" -> "ms",
    "planner.meta_check_ms" -> "ms",
    "planner.plan_ms" -> "ms",
    "planner.analysis_ms" -> "ms",
    "planner.optimization_ms" -> "ms",
    "planner.physical_ms" -> "ms",
    "planner.exec_serialize_ms" -> "ms",
    "planner.response_bytes" -> "B",
    "server.query_overhead_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.cpu_ms_per_query" -> "ms",
    "spark.gc_ms_per_query" -> "ms",
    "spark.shuffle_bytes_per_query" -> "B",
    "spark.busy_share" -> "ratio",
    "streaming.batches" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.rows_per_batch" -> "count",
    "streaming.undelivered_points_at_end" -> "count") ++
    Gates.Names.map(g => s"queries.${g}_s" -> "s") ++ Seq(
    "spark.jobs_per_pass" -> "count",
    "spark.cpu_s_per_pass" -> "s",
    "spark.gc_s_per_pass" -> "s",
    "spark.shuffle_mb_per_pass" -> "MB",
    "spark.spill_mb_per_pass" -> "MB",
    "client.generator_late_ms_max" -> "ms")

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Requests the replay samples: three narrow tiles and two wide panels
    * (with and without rate) over the data the workload's store holds. */
  def replayRequests(workload: String, seed: Long): Seq[Req] = {
    val r = Gen.rng(seed, 8L)
    def series = BurstSeries(r.nextInt(BurstSeries.size))
    if (workload == "query")
      Seq.fill(3)(Narrow(series, QueryEnd - 5 * MinuteMs, QueryEnd)) ++
        Seq(false, true).map(Wide(Metrics(0), QueryEnd + 1 - 3 * HourMs, QueryEnd, _))
    else
      Seq.fill(3)(Narrow(series, T0 + 25 * MinuteMs, T0 + 30 * MinuteMs)) ++
        Seq(false, true).map(Wide(Metrics(0), T0, T0 + HourMs - 1, _))
  }

  def probe(spark: SparkSession, o: Opts, out: Outcome, t: Trace, srv: Served,
            streaming: Boolean): Unit = {
    putBatches(spark, o, out, t, srv)
    queries(spark, o, out, t, srv)
    if (streaming) streamingTail(o, out, t, srv)
    Gates.pass(spark, o.data, out, t)
  }

  private def putBatches(spark: SparkSession, o: Opts, out: Outcome, t: Trace, srv: Served): Unit = {
    val s = spark
    import s.implicits._
    val r = Gen.rng(o.seed, 9L)
    val parseUs, writeMs, metaMs, jobs1k, cpu1k, files = ArrayBuffer.empty[Double]
    for (b <- 0 until 3) {
      val req = 1000L + b
      // inside hour 0, a partition every workload's store already has
      val lines = (0 until 1000).map(i =>
        point(r, AllSeries(r.nextInt(AllSeries.size)), T0 + 55 * MinuteMs + b * 1000L + i).line)
      t.span("put_batch", req) {
        val parsed = t.span("model.parse", req)(lines.flatMap(l => MetricParser.parse(l)))
        val df = parsed.toDF()
        val before = storeStats(srv.dataDir)._1
        t.span("sources.write", req)(PointStore.write(df, srv.dataDir))
        t.span("sources.meta_append", req)(
          PointStore.metaProjection(df).write.mode("append").parquet(srv.metaDir))
        files += (storeStats(srv.dataDir)._1 - before).toDouble
      }
      def last(n: String) = t.named(n).last
      parseUs += last("model.parse").ms * 1000.0 / lines.size
      writeMs += last("sources.write").ms
      metaMs += last("sources.meta_append").ms
      val d = last("put_batch").after - last("put_batch").before
      jobs1k += d.jobs * 1000.0 / lines.size
      cpu1k += d.cpuNs / 1e6 * 1000.0 / lines.size
    }
    out.layer("model.parse_us_per_point", median(parseUs.toSeq))
    out.layer("sources.write_ms_per_batch", median(writeMs.toSeq))
    out.layer("sources.meta_append_ms_per_batch", median(metaMs.toSeq))
    out.layer("spark.jobs_per_1k_points", median(jobs1k.toSeq))
    out.layer("spark.cpu_ms_per_1k_points", median(cpu1k.toSeq))
    out.layer("sources.files_written", median(files.toSeq))
  }

  private def queries(spark: SparkSession, o: Opts, out: Outcome, t: Trace, srv: Served): Unit = {
    val http = srv.client(authorized = false)
    final case class Rec(read: Double, parse: Double, meta: Double, plan: Double, exec: Double,
                         viaHttp: Double, bytes: Double, d: Trace.Snap, acts: Seq[Trace.Action]) {
      /** The direct calls' own time; the request span also holds the waits
        * for listener events at each child span's boundaries. */
      def direct: Double = read + parse + meta + plan + exec
    }
    val recs = replayRequests(o.workload, o.seed).zipWithIndex.map { case (q, i) =>
      val req = 2000L + i
      val json = q.json
      val sw = new java.io.StringWriter()
      var acts = Seq.empty[Trace.Action]
      // one untimed HTTP call first, so the direct and HTTP replays both
      // meet warm file and plan caches
      http.query(json)
      t.span("request", req) {
        val parsed = t.span("planner.parse", req)(QueryJson.parseRequest(json))
        val points = t.span("sources.read", req)(PointStore.read(spark, srv.dataDir))
        t.span("planner.meta_check", req) {
          val meta = spark.read.parquet(srv.metaDir)
          parsed.queries.foreach(sq => TimelyApi.requireMatchingTags(meta, sq))
        }
        val frames = t.span("planner.plan", req)(QueryPlanner.plan(points, parsed, Seq.empty))
        val before = t.actions.count
        val mark = System.nanoTime()
        t.span("planner.exec_serialize", req)(QueryJson.writeResponses(frames, sw))
        t.actions.await(before + 1)
        acts = t.actions.since(mark)
      }
      val answer = sw.toString
      val viaHttp = t.span("server.http", req)(http.query(json))
      out.attempted.incrementAndGet()
      if (viaHttp != answer) out.fail(s"replayed ${q.kind} query differs from its HTTP answer")
      def last(n: String) = t.named(n).last
      val rq = last("request")
      Rec(last("sources.read").ms, last("planner.parse").ms, last("planner.meta_check").ms,
        last("planner.plan").ms, last("planner.exec_serialize").ms, last("server.http").ms,
        answer.getBytes("UTF-8").length.toDouble, rq.after - rq.before, acts)
    }
    out.layer("sources.read_ms", mean(recs.map(_.read)))
    out.layer("sources.files_read_per_query", mean(recs.map(_.acts.map(_.files).sum.toDouble)))
    out.layer("sources.bytes_read_per_query", mean(recs.map(_.acts.map(_.bytes).sum.toDouble)))
    out.layer("planner.parse_ms", mean(recs.map(_.parse)))
    out.layer("planner.meta_check_ms", mean(recs.map(_.meta)))
    out.layer("planner.plan_ms", mean(recs.map(_.plan)))
    out.layer("planner.analysis_ms", mean(recs.map(_.acts.map(_.analysisMs).sum.toDouble)))
    out.layer("planner.optimization_ms", mean(recs.map(_.acts.map(_.optimizationMs).sum.toDouble)))
    out.layer("planner.physical_ms", mean(recs.map(_.acts.map(_.planningMs).sum.toDouble)))
    out.layer("planner.exec_serialize_ms", mean(recs.map(_.exec)))
    out.layer("planner.response_bytes", mean(recs.map(_.bytes)))
    out.layer("server.query_overhead_ms", mean(recs.map(r => r.viaHttp - r.direct)))
    out.layer("spark.jobs_per_query", mean(recs.map(_.d.jobs.toDouble)))
    out.layer("spark.tasks_per_query", mean(recs.map(_.d.tasks.toDouble)))
    out.layer("spark.cpu_ms_per_query", mean(recs.map(_.d.cpuNs / 1e6)))
    out.layer("spark.gc_ms_per_query", mean(recs.map(_.d.gcMs.toDouble)))
    out.layer("spark.shuffle_bytes_per_query", mean(recs.map(_.d.shuffleBytes.toDouble)))
  }

  /** Micro-batch figures from the StreamingQueryListener's progress reports. */
  def streamingFromListener(out: Outcome, t: Trace): Unit = {
    val bs = t.streams.batches.asScala.toSeq.filter(_.rows > 0)
    out.layer("streaming.batches", bs.size.toDouble)
    out.layer("streaming.trigger_ms_p50", median(bs.map(_.triggerMs.toDouble)))
    out.layer("streaming.latest_offset_ms_p50", median(bs.map(_.latestOffsetMs.toDouble)))
    out.layer("streaming.add_batch_ms_p50", median(bs.map(_.addBatchMs.toDouble)))
    out.layer("streaming.rows_per_batch", median(bs.map(_.rows.toDouble)))
  }

  /** Short open-loop tail for workloads without a subscription: 4 ticks of
    * one point per series of a fresh metric, one second apart, delivered to
    * one WebSocket subscriber. */
  private def streamingTail(o: Opts, out: Outcome, t: Trace, srv: Served): Unit = {
    val metric = "perf.stream"
    val sub = new Serving.Subscriber(srv, metric, "trace")
    val tcp = srv.tcp()
    try {
      // the tail is live once its first (empty) trigger has run
      Thread.sleep(1500)
      val r = Gen.rng(o.seed, 11L)
      val series = Hosts.flatMap(h => Instances.map(i => Series(metric, h, i)))
      val ticks = 4
      val start = System.nanoTime() + 100000000L
      val late = ArrayBuffer.empty[Double]
      for (k <- 0 until ticks) {
        val due = start + k * 1000000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late += (System.nanoTime() - due) / 1e6
        series.foreach(s => tcp.putLine(point(r, s, T0 + 50 * MinuteMs + k * 1000L).line))
        tcp.flush()
      }
      val sent = ticks * series.size
      out.layer("streaming.undelivered_points_at_end", (sent - sub.got.size).toDouble)
      out.layer("client.generator_late_ms_max", late.max)
      out.attempted.addAndGet(sent.toLong)
      if (!await(20000, 50)(sub.got.size >= sent))
        out.fail(s"streaming tail delivered ${sub.got.size} of $sent points")
    } finally { tcp.close(); sub.close() }
    streamingFromListener(out, t)
  }
}
