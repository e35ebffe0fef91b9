package perfbench

import java.util.SplittableRandom

/**
 * Deterministic input generator. Everything the program receives — put
 * lines, the bulk preload and query JSON — comes from here and depends only
 * on the seed. Timestamps are anchored to the hour boundary [[T0]], so every
 * seed lands in the same (metric, dt, hr) partitions.
 *
 * Series are 8 metrics x 32 hosts x 4 instances. About 10% of points carry
 * the visibility label `viz=A`. Values are hundredths (`k / 100.0`), so the
 * decimal text on the wire parses back to the exact generated double.
 */
object Gen {
  /** 2026-01-01T00:00:00Z. */
  val T0: Long = 1767225600000L
  val HourMs: Long = 3600000L
  val MinuteMs: Long = 60000L

  val Metrics: IndexedSeq[String] = (0 until 8).map(i => s"perf.m$i")
  val Hosts: IndexedSeq[String] = (0 until 32).map(i => f"h$i%02d")
  val Instances: IndexedSeq[String] = (0 until 4).map(i => s"i$i")
  val ProbeMetric = "perf.probe"

  /** Login of the authorized caller (sees `viz=A`); everyone else is anonymous. */
  val User = "bench"
  val Password = "bench-pw"
  val Auth = "A"

  final case class Series(metric: String, host: String, instance: String) {
    def tags: Map[String, String] = Map("host" -> host, "instance" -> instance)
  }

  val AllSeries: IndexedSeq[Series] =
    for (m <- Metrics; h <- Hosts; i <- Instances) yield Series(m, h, i)

  final case class Pt(series: Series, ts: Long, k: Int, viz: Boolean) {
    def value: Double = k / 100.0
    def line: String =
      s"put ${series.metric} $ts ${Gen.decimal(k)} host=${series.host} instance=${series.instance}" +
        (if (viz) s" viz=${Gen.Auth}" else "")
    def toPoint: graft.model.MetricPoint =
      graft.model.MetricPoint(series.metric, ts, value, series.tags, if (viz) Some(Auth) else None)
  }

  def decimal(k: Int): String = java.math.BigDecimal.valueOf(k.toLong, 2).toPlainString

  /** One stream per (seed, purpose), so adding a purpose never shifts another. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL))

  def point(r: SplittableRandom, s: Series, ts: Long): Pt =
    Pt(s, ts, r.nextInt(100000), r.nextInt(10) == 0)

  /** `perSeries` points per series on a regular grid over `[from, from + spanMs)`,
    * with a seeded phase per series so the grid never leaves the span. */
  def grid(seed: Long, salt: Long, series: Seq[Series], from: Long, spanMs: Long,
           perSeries: Int): IndexedSeq[Pt] = {
    val r = rng(seed, salt)
    val step = spanMs / perSeries
    series.toIndexedSeq.flatMap { s =>
      val phase = r.nextLong(step)
      (0 until perSeries).map(j => point(r, s, from + j * step + phase))
    }
  }

  // ---- query ---------------------------------------------------------------

  val QueryHours = 6
  val QueryEnd: Long = T0 + QueryHours * HourMs - 1

  def queryPreload(seed: Long, perSeries: Int): IndexedSeq[Pt] =
    grid(seed, 1L, AllSeries, T0, QueryHours * HourMs, perSeries)

  sealed trait Req { def json: String; def kind: String }
  /** `msResolution` keys dps by millisecond; the mixed workload's ticks are
    * closer than a second, so two can share one. */
  final case class Narrow(s: Series, start: Long, end: Long, msResolution: Boolean = false) extends Req {
    val kind = "narrow"
    def json: String =
      s"""{"start":$start,"end":$end,${if (msResolution) "\"msResolution\":true," else ""}""" +
        s""""queries":[{"metric":"${s.metric}","aggregator":"none",""" +
        s""""tags":{"host":"${s.host}","instance":"${s.instance}"}}]}"""
  }
  final case class Wide(metric: String, start: Long, end: Long, rate: Boolean) extends Req {
    val kind = "wide"
    def json: String =
      s"""{"start":$start,"end":$end,"queries":[{"metric":"$metric","aggregator":"sum",""" +
        s""""downsample":"1m-avg","rate":$rate,"tags":{"host":"*"}}]}"""
  }

  /** A client's request sequence: every 4th request is a wide panel (3
    * hours of a metric's hosts, every other one with rate), the rest narrow
    * tiles (last 5 minutes of one series). Clients start the cycle at
    * different places, so the wide share in flight stays even; the seed
    * picks series and metrics, never the mix, so every seed offers the same
    * load. */
  def queryMix(seed: Long, client: Int, n: Int): IndexedSeq[Req] = {
    val r = rng(seed, 2000L + client)
    (0 until n).map { i =>
      val j = i + client
      if (j % 4 != 3) Narrow(AllSeries(r.nextInt(AllSeries.size)), QueryEnd - 5 * MinuteMs, QueryEnd)
      else Wide(Metrics(r.nextInt(Metrics.size)), QueryEnd + 1 - 3 * HourMs, QueryEnd, rate = j % 8 == 7)
    }
  }

  // ---- mixed ---------------------------------------------------------------

  /** Virtual clock of the mixed workload: the open loop's tick 0 is
    * [[MixedStart]], 30 minutes into hour 0, after a half hour of history. */
  val MixedStart: Long = T0 + 30 * MinuteMs
  /** Open-loop tick, 50 ms short of a second: the subscription's 1 s
    * trigger and the gateway's 500 ms flush then meet successive ticks at
    * phases 50 ms apart, and every [[TicksPerCycle]] ticks cover each phase
    * once. A whole-second tick would meet one phase per run, chosen by the
    * wall clock, and move the lag by up to a trigger period between runs. */
  val TickMs: Long = 950L
  val TicksPerCycle = 20

  /** Ticks of a run: whole phase cycles, as many as fit in `seconds`
    * (at least one). */
  def mixedTicks(seconds: Int): Int =
    math.max(1, (seconds * 1000L / TickMs / TicksPerCycle).toInt) * TicksPerCycle
  val BurstSeries: IndexedSeq[Series] = AllSeries.filter(s => s.metric == Metrics(0) || s.metric == Metrics(1))
  val SubscribedMetric: String = Metrics(0)
  val ProbeSeries: Series = Series(ProbeMetric, "probe", "i0")

  def mixedHistory(seed: Long): IndexedSeq[Pt] =
    grid(seed, 3L, AllSeries, T0, 30 * MinuteMs, 30) :+ Pt(ProbeSeries, T0, 0, viz = false)

  /** Burst of tick `k`: one point per burst series plus one probe, all at
    * the tick's due time. */
  def burst(seed: Long, k: Int): (IndexedSeq[Pt], Pt) = {
    val r = rng(seed, 10000L + k)
    val ts = MixedStart + k * TickMs
    (BurstSeries.map(s => point(r, s, ts)), Pt(ProbeSeries, ts, k % 100000, viz = false))
  }

  def mixedNarrow(seed: Long, n: Int): IndexedSeq[Series] = {
    val r = rng(seed, 4L)
    (0 until n).map(_ => BurstSeries(r.nextInt(BurstSeries.size)))
  }

  /** Partition (metric, dt, hr) of a point, as the store lays it out. */
  def partition(p: Pt): (String, String, Int) = {
    val t = java.time.Instant.ofEpochMilli(p.ts).atZone(java.time.ZoneOffset.UTC)
    (p.series.metric, t.toLocalDate.toString, t.getHour)
  }
}
