package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.client.GraftClient
import graft.server.{AuthSessions, GraftServer}
import graft.sources.PointStore

import Gen._
import Main._

/** A `GraftServer` embedded in this JVM on fresh store directories, with one
  * authorized user and anonymous access allowed. */
final class Served(val spark: SparkSession, val root: String) {
  val dataDir = s"$root/data"
  val metaDir = s"$root/meta"
  val sessions = new AuthSessions(
    Map(User -> AuthSessions.User(Password, Seq(Auth))), allowAnonymous = true)
  val server = new GraftServer(spark, dataDir, metaDir, Some(sessions))
  private val ports = server.start()
  val httpPort: Int = ports.http
  val wsPort: Int = ports.ws
  val tcpPort: Int = ports.tcp

  def client(authorized: Boolean): GraftClient.Http = {
    val c = new GraftClient.Http(s"http://127.0.0.1:$httpPort")
    if (authorized) require(c.login(User, Password), "login failed")
    c
  }

  def tcp(): GraftClient.Tcp = new GraftClient.Tcp("127.0.0.1", tcpPort)

  /** One bulk `PointStore.write` plus the meta catalog rows, as set-up. */
  def preload(points: Seq[Pt]): Unit = {
    val s = spark
    import s.implicits._
    val df = spark.sparkContext
      .parallelize(points.map(_.toPoint), spark.sparkContext.defaultParallelism).toDF()
    PointStore.write(df, dataDir)
    PointStore.metaProjection(df).write.mode("append").parquet(metaDir)
  }

  def close(): Unit = {
    server.stop()
    deleteRecursively(new File(root))
  }
}

object Serving {

  private val cores = Runtime.getRuntime.availableProcessors()

  // ---- query ----------------------------------------------------------------

  val QueryPerSeries = 120
  val QueryClients = 2
  val QueryWarmUpRequests = 12

  def query(spark: SparkSession, o: Opts, out: Outcome, trace: Option[Trace]): Unit = {
    val clients = if (o.trace) 1 else QueryClients
    val preload = queryPreload(o.seed, QueryPerSeries)
    val (setupS, srv, setups) = setUp(SetUps) { i =>
      val s = new Served(spark, s"${o.work}/query-$i")
      s.preload(preload)
      val c = s.client(authorized = false)
      val warm = PerLayer.replayRequests("query", o.seed)
      Seq(warm.head, warm.last).foreach(q => c.query(q.json))
      s
    }(_.close())
    out.e2e("setup_s") = setupS
    out.show("setup_s", setupS, "s", setups.size)

    // closed loop: client c sends its next request when the previous returns;
    // even clients are authorized, odd ones anonymous
    final case class Done(q: Req, authorized: Boolean, ms: Double, body: Either[String, String])
    def closedLoop(seconds: Int, requests: Int = Int.MaxValue): Seq[Done] = {
      val done = new ConcurrentLinkedQueue[Done]()
      val deadline = System.nanoTime() + seconds * 1000000000L
      val threads = (0 until clients).map { c =>
        val authorized = c % 2 == 0
        val http = srv.client(authorized)
        val mix = queryMix(o.seed, c, 10000)
        val t = new Thread(() => {
          var i = 0
          while (System.nanoTime() < deadline && i < requests) {
            val q = mix(i % mix.size); i += 1
            val q0 = System.nanoTime()
            val body = try Right(http.query(q.json)) catch { case e: Exception => Left(e.toString) }
            done.add(Done(q, authorized, (System.nanoTime() - q0) / 1e6, body))
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      done.asScala.toSeq
    }
    // unrecorded warm-up, a fixed number of requests so every run starts
    // measuring at the same point: narrow latency still falls by about a
    // fifth over the first 20 s of load while the JIT compiles the query path
    closedLoop(120, QueryWarmUpRequests)
    log("warmed up")
    val busy0 = trace.map(_.counters.snap())
    val t0 = System.nanoTime()
    val all = closedLoop(o.seconds)
    val wall = (System.nanoTime() - t0) / 1e9
    log(f"measured ${all.size} queries in $wall%.2f s")
    out.e2e("retained_heap_mb") = retainedHeapMb()
    val narrow = all.filter(_.q.kind == "narrow").map(_.ms)
    val wide = all.filter(_.q.kind == "wide").map(_.ms)
    out.e2e("latency_ms") = median(narrow)
    log("narrow ms in order: " + narrow.map(_.round).mkString(" "))
    latencies(out, "narrow", narrow)
    latencies(out, "wide", wide)
    out.show("query_per_s", all.size / wall, "1/s", all.size)
    out.show("retained_heap_mb", out.e2e("retained_heap_mb"), "MB", 1)
    val (files, bytes, parts) = storeStats(srv.dataDir)
    out.e2e("store_bytes_per_point") = bytes.toDouble / preload.size
    out.show("store_bytes_per_point", out.e2e("store_bytes_per_point"), "B", preload.size)
    trace.foreach { t =>
      val d = t.counters.snap() - busy0.get
      out.layer("spark.busy_share", d.runMs / 1000.0 / (wall * cores))
      out.layer("sources.files_per_partition", files.toDouble / parts)
    }

    // every response equals the dps computed from the generated points
    val ix = new Expect.Index(preload)
    log("expected-answer index built")
    val memo = scala.collection.mutable.HashMap.empty[(Req, Boolean), Expect.Answer]
    all.foreach { d =>
      out.attempted.incrementAndGet()
      d.body match {
        case Left(err) => out.fail(s"${d.q.kind} query failed: $err")
        case Right(body) =>
          val want = memo.getOrElseUpdate((d.q, d.authorized), Expect.answer(ix, d.q, d.authorized))
          Expect.diff(want, Expect.parse(body)).foreach(m => out.fail(s"${d.q.kind} (auth=${d.authorized}): $m"))
      }
    }

    log("responses checked")
    trace.foreach(t => PerLayer.probe(spark, o, out, t, srv, streaming = true))
    srv.close()
  }

  // ---- mixed ----------------------------------------------------------------

  /** One subscription frame entry: series, ts, value, and when it arrived. */
  final case class Got(series: Series, ts: Long, value: Double, atNs: Long)

  /** WebSocket subscriber draining frames on its own thread. */
  final class Subscriber(srv: Served, metric: String, id: String) {
    private val cookie = srv.client(authorized = true).session
    val ws = new GraftClient.WebSocket("127.0.0.1", srv.wsPort, cookie = cookie)
    require(ws.connect() == 101, "websocket upgrade refused")
    val got = new ConcurrentLinkedQueue[Got]()
    private val stop = new AtomicBoolean(false)
    private val reader = new Thread(() => {
      while (!stop.get) ws.nextText(200).foreach { text =>
        val at = System.nanoTime()
        JsonMethods.parse(text) \ "responses" match {
          case JArray(rs) => rs.filterNot(r => r \ "complete" == JBool(true)).foreach(r => got.add(point(r, at)))
          case _ => ()
        }
      }
    })

    /** One MetricResponse: metric, `timestamp`, `value`, tags as `[{k: v}]`. */
    private def point(r: JValue, at: Long): Got = {
      val tags = (r \ "tags") match {
        case JArray(kvs) => kvs.flatMap { case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }; case _ => Nil }.toMap
        case _ => Map.empty[String, String]
      }
      val JString(metric) = r \ "metric": @unchecked
      Got(Series(metric, tags.getOrElse("host", ""), tags.getOrElse("instance", "")),
        Expect.num(r \ "timestamp").toLong, Expect.num(r \ "value"), at)
    }
    reader.setDaemon(true)
    reader.start()
    ws.createSubscription(id)
    ws.addSubscription(id, metric, delayTime = 1000L)

    def close(): Unit = {
      stop.set(true)
      reader.join(2000)
      ws.close()
    }
  }

  final class MixedRig(val srv: Served, val sub: Subscriber, val gen: GraftClient.Tcp) {
    def close(): Unit = { sub.close(); gen.close(); srv.close() }
  }

  def mixed(spark: SparkSession, o: Opts, out: Outcome, trace: Option[Trace]): Unit = {
    val history = mixedHistory(o.seed)
    val historySub = history.filter(_.series.metric == SubscribedMetric)
    val (setupS, rig, setups) = setUp(SetUps) { i =>
      val s = new Served(spark, s"${o.work}/mixed-$i")
      s.preload(history)
      val sub = new Subscriber(s, SubscribedMetric, "bench")
      require(await(60000, 20)(sub.got.size >= historySub.size), "subscription never replayed the history")
      val c = s.client(authorized = false)
      c.query(Narrow(BurstSeries(0), MixedStart - 5 * MinuteMs, MixedStart, msResolution = true).json)
      new MixedRig(s, sub, s.tcp())
    }(_.close())
    out.e2e("setup_s") = setupS
    out.show("setup_s", setupS, "s", setups.size)
    val srv = rig.srv
    val sub = rig.sub

    // open loop: tick k is due at start + k seconds; lag counts from the due time
    val start = System.nanoTime() + 200000000L
    val ticks = mixedTicks(o.seconds)
    def dueNs(k: Int): Long = start + k * TickMs * 1000000L
    val deadline = dueNs(ticks)
    def vnow(): Long = MixedStart + (System.nanoTime() - start) / 1000000L
    val sentTicks = new AtomicLong(0)
    val lateMs = ArrayBuffer.empty[Double]
    val bursts = ArrayBuffer.empty[(IndexedSeq[Pt], Pt)]
    val gen = new Thread(() => {
      var k = 0
      while (k < ticks) {
        val b = burst(o.seed, k)
        val wait = dueNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs += (System.nanoTime() - dueNs(k)) / 1e6
        (b._1 :+ b._2).foreach(p => rig.gen.putLine(p.line))
        rig.gen.flush()
        bursts += b
        k += 1
        sentTicks.set(k)
      }
    })
    final case class Q(s: Series, start: Long, end: Long, ms: Double, body: Either[String, String])
    val narrowDone = new ConcurrentLinkedQueue[Q]()
    val narrowT = new Thread(() => {
      val http = srv.client(authorized = false)
      val seq = mixedNarrow(o.seed, 10000)
      var i = 0
      while (System.nanoTime() < start) Thread.sleep(5)
      while (System.nanoTime() < deadline) {
        val s = seq(i % seq.size); i += 1
        val end = vnow()
        val q = Narrow(s, end - 5 * MinuteMs, end, msResolution = true)
        val q0 = System.nanoTime()
        val body = try Right(http.query(q.json)) catch { case e: Exception => Left(e.toString) }
        narrowDone.add(Q(s, q.start, q.end, (System.nanoTime() - q0) / 1e6, body))
      }
    })
    // probe client: polls for the oldest probe not yet seen; every probe a
    // response returns is visible as of that response
    val visibleMs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val probeErrors = new AtomicLong
    val probeQueries = new AtomicLong
    val probeT = new Thread(() => {
      val http = srv.client(authorized = false)
      while (System.nanoTime() < deadline + 5000000000L &&
             (System.nanoTime() < deadline || visibleMs.size < sentTicks.get)) {
        val oldest = (0 until sentTicks.get.toInt).find(k => !visibleMs.containsKey(k))
        oldest match {
          case None => Thread.sleep(5)
          case Some(k) =>
            val q = s"""{"start":${MixedStart + k * TickMs},"end":${vnow() + 1000},"msResolution":true,"queries":[""" +
              s"""{"metric":"$ProbeMetric","aggregator":"none","tags":{"host":"probe"}}]}"""
            probeQueries.incrementAndGet()
            try {
              val body = http.query(q)
              val at = System.nanoTime()
              Expect.parse(body).values.flatMap(_.keys).foreach { ts =>
                val j = ((ts - MixedStart) / TickMs).toInt
                if (j >= 0) visibleMs.putIfAbsent(j, (at - dueNs(j)) / 1e6)
              }
            } catch { case _: Exception => probeErrors.incrementAndGet(); Thread.sleep(50) }
        }
      }
    })
    val busy0 = trace.map(_.counters.snap())
    Seq(gen, narrowT, probeT).foreach(_.start())
    gen.join(); narrowT.join()
    val wall = (System.nanoTime() - start) / 1e9
    val subSent = bursts.map(_._1.count(_.series.metric == SubscribedMetric)).sum
    val undelivered = subSent - (sub.got.size - historySub.size)
    trace.foreach { t =>
      val d = t.counters.snap() - busy0.get
      out.layer("spark.busy_share", d.runMs / 1000.0 / (wall * cores))
      out.layer("streaming.undelivered_points_at_end", undelivered.toDouble)
      out.layer("client.generator_late_ms_max", lateMs.max)
    }
    probeT.join()
    // drain: every subscribed point must still arrive
    val expected = historySub ++ bursts.flatMap(_._1.filter(_.series.metric == SubscribedMetric))
    await(20000, 50)(sub.got.size >= expected.size)
    // measured once the open loop's last tick is delivered: the subscription
    // is then between micro-batches, not holding one
    out.e2e("retained_heap_mb") = retainedHeapMb()

    val late = lateMs.max
    out.show("client.generator_late_ms_max", late, "ms", lateMs.size)
    if (late >= TickMs) { out.valid = false; out.fail(s"generator fell $late ms behind") }
    val got = sub.got.asScala.toIndexedSeq
    val lags = got.filter(_.ts >= MixedStart).map(g => (g.atNs - dueNs(((g.ts - MixedStart) / TickMs).toInt)) / 1e6)
    log("per-tick lag p50 ms: " + got.filter(_.ts >= MixedStart).groupBy(_.ts).toSeq.sortBy(_._1)
      .map { case (ts, gs) => median(gs.map(g => (g.atNs - dueNs(((ts - MixedStart) / TickMs).toInt)) / 1e6)).round }
      .mkString(" "))
    val narrowQs = narrowDone.asScala.toSeq
    // the mean over ticks whose phases step through the trigger cycle; the
    // p50 lands on one tick's lag and jumps by up to a trigger period
    out.e2e("latency_ms") = lags.sum / lags.size
    out.show("narrow_p50_ms", median(narrowQs.map(_.ms)), "ms", narrowQs.size)
    out.show("narrow_per_busy_s", narrowQs.size / (narrowQs.map(_.ms).sum / 1000), "1/s", narrowQs.size)
    val vis = visibleMs.values.asScala.toSeq
    out.show("visible_lag_p50_ms", median(vis), "ms", vis.size)
    latencies(out, "sub_lag", lags)
    out.show("sub_lag_mean_ms", out.e2e("latency_ms"), "ms", lags.size)
    out.show("streaming.undelivered_points_at_end", undelivered.toDouble, "count", subSent)
    out.show("retained_heap_mb", out.e2e("retained_heap_mb"), "MB", 1)
    val (files, bytes, parts) = storeStats(srv.dataDir)
    val stored = history.size + bursts.map(_._1.size + 1).sum
    out.e2e("store_bytes_per_point") = bytes.toDouble / stored
    out.show("store_bytes_per_point", out.e2e("store_bytes_per_point"), "B", stored)
    trace.foreach(_ => out.layer("sources.files_per_partition", files.toDouble / parts))

    // subscription: every point exactly once, in ts order
    out.attempted.addAndGet(expected.size.toLong)
    val want = expected.map(p => (p.series, p.ts) -> p.value).toMap
    val seen = scala.collection.mutable.HashSet.empty[(Series, Long)]
    var prevTs = Long.MinValue
    got.foreach { g =>
      val key = (g.series, g.ts)
      if (!want.get(key).contains(g.value)) out.fail(s"unexpected subscription point $key=${g.value}")
      else if (!seen.add(key)) out.fail(s"duplicate subscription point $key")
      if (g.ts < prevTs) out.fail(s"subscription out of ts order: ${g.ts} after $prevTs")
      prevTs = math.max(prevTs, g.ts)
    }
    val missing = want.size - seen.size
    if (missing > 0) { out.failed.addAndGet(missing - 1L); out.fail(s"$missing subscribed points never arrived") }

    // narrow answers under ingest: every dp is a sent, unlabelled point
    val sentBy = (history ++ bursts.flatMap(b => b._1 :+ b._2)).map(p => (p.series, p.ts) -> p).toMap
    narrowQs.foreach { q =>
      out.attempted.incrementAndGet()
      q.body match {
        case Left(err) => out.fail(s"narrow query failed: $err")
        case Right(body) =>
          Expect.parse(body).foreach { case (k, dps) =>
            dps.foreach { case (ts, v) =>
              sentBy.get((q.s, ts)) match {
                case Some(p) if !p.viz && p.value == v && k.tags == q.s.tags => ()
                case other => out.fail(s"narrow returned ${q.s} $ts=$v, sent $other")
              }
            }
          }
      }
    }
    out.attempted.addAndGet(bursts.size.toLong + probeQueries.get)
    out.failed.addAndGet(probeErrors.get)
    val invisible = bursts.size - visibleMs.size
    if (invisible > 0) { out.failed.addAndGet(invisible - 1L); out.fail(s"$invisible probes never became visible") }

    trace.foreach { t =>
      PerLayer.streamingFromListener(out, t)
      PerLayer.probe(spark, o, out, t, srv, streaming = false)
    }
    rig.close()
  }
}
