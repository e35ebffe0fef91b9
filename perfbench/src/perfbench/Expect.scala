package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

import Gen._

/**
 * Expected `/api/query` answers, computed from the generated points with
 * plain Scala, and the comparison against what the server returned.
 *
 * A response is a set of series objects `(metric, tags, aggregatedTags)`,
 * each with dps `second -> value`. Values match when
 * `|got - want| <= 1e-9 * scale`, where `scale` is the sum of the magnitudes
 * of the terms that made the value (at least 1e-300), so cross-series sums
 * with cancellation compare at the precision they were computed with.
 */
object Expect {

  final case class SeriesKey(metric: String, tags: Map[String, String], aggTags: List[String])
  final case class Dp(value: Double, scale: Double)
  type Answer = Map[SeriesKey, Map[Long, Dp]]

  /** Points of one series sorted by (ts, value). */
  final class Index(points: Seq[Pt]) {
    val bySeries: Map[Series, IndexedSeq[Pt]] =
      points.groupBy(_.series).view.mapValues(_.sortBy(p => (p.ts, p.k)).toIndexedSeq).toMap
    def range(s: Series, start: Long, end: Long, authorized: Boolean): IndexedSeq[Pt] =
      bySeries.getOrElse(s, IndexedSeq.empty)
        .filter(p => p.ts >= start && p.ts <= end && (authorized || !p.viz))
  }

  def narrow(ix: Index, q: Narrow, authorized: Boolean): Answer = {
    val pts = ix.range(q.s, q.start, q.end, authorized)
    if (pts.isEmpty) Map.empty
    else Map(SeriesKey(q.s.metric, q.s.tags, Nil) ->
      pts.map(p => (p.ts / 1000) -> Dp(p.value, math.abs(p.value))).toMap)
  }

  /** `sum` across instances of the per-series `1m-avg` (of the rate, when
    * asked), grouped by host — the planner's rate -> downsample -> aggregate
    * order. */
  def wide(ix: Index, q: Wide, authorized: Boolean): Answer = {
    val period = MinuteMs
    val aligned = q.start - q.start % period
    def bucket(ts: Long) = ts - (ts - aligned) % period
    val perSeries = for {
      host <- Hosts; inst <- Instances
      pts = ix.range(Series(q.metric, host, inst), q.start, q.end, authorized)
      (b, vals) <- {
        val xs: Seq[(Long, Double)] =
          if (!q.rate) pts.map(p => bucket(p.ts) -> p.value)
          else pts.sliding(2).collect { case Seq(a, c) =>
            bucket(c.ts) -> (if (c.ts == a.ts) 0.0
                             else (c.value - a.value) / (c.ts - a.ts).toDouble * period.toDouble)
          }.toSeq
        xs.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      }
    } yield (host, b, vals.sum / vals.size, vals.map(math.abs).sum / vals.size)
    perSeries.groupBy(_._1).map { case (host, rows) =>
      SeriesKey(q.metric, Map("host" -> host), List("instance")) ->
        rows.groupBy(_._2).map { case (b, xs) =>
          (b / 1000) -> Dp(xs.map(_._3).sum, xs.map(_._4).sum)
        }
    }
  }

  def answer(ix: Index, q: Req, authorized: Boolean): Answer = q match {
    case n: Narrow => narrow(ix, n, authorized)
    case w: Wide => wide(ix, w, authorized)
  }

  /** Parse a `/api/query` response body. */
  def parse(body: String): Map[SeriesKey, Map[Long, Double]] = {
    val JArray(objs) = JsonMethods.parse(body): @unchecked
    objs.map { o =>
      val metric = (o \ "metric").asInstanceOf[JString].s
      val tags = (o \ "tags") match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
      val agg = (o \ "aggregatedTags") match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => Nil
      }
      val dps = (o \ "dps") match {
        case JObject(fs) => fs.map { case (k, v) => k.toLong -> num(v) }.toMap
        case _ => Map.empty[Long, Double]
      }
      SeriesKey(metric, tags, agg) -> dps
    }.toMap
  }

  def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** None when the response matches, else a short description of the first
    * difference. */
  def diff(want: Answer, got: Map[SeriesKey, Map[Long, Double]]): Option[String] = {
    if (want.keySet != got.keySet)
      return Some(s"series differ: want ${want.keySet.take(3)} got ${got.keySet.take(3)}")
    want.collectFirst {
      case (k, dps) if dps.keySet != got(k).keySet =>
        s"timestamps of $k differ: want ${dps.size} got ${got(k).size}"
      case (k, dps) if dps.exists { case (t, d) => !close(got(k)(t), d) } =>
        val (t, d) = dps.find { case (t, d) => !close(got(k)(t), d) }.get
        s"value of $k at $t: want ${d.value} got ${got(k)(t)}"
    }
  }

  def close(got: Double, want: Dp): Boolean =
    math.abs(got - want.value) <= 1e-9 * math.max(want.scale, 1e-300)
}
