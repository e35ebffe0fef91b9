package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.queries.TimelyQueries

import Main._

/**
 * The 32 Timely gates (`queries` and `operators` layers) over the events
 * table in `perfbench/data`, run once per traced run. Every gate is
 * collected inside its span and its order-independent hash checked against
 * the one recorded from the DuckDB oracle (`record_oracle.py`).
 */
object Gates {

  val Names: Seq[String] = Seq(
    "meta_ageoff", "meta_cache_status", "meta_cardinality", "meta_lookup", "meta_report",
    "meta_suggest", "points_ageoff", "ts_autocorr", "ts_changepoint", "ts_cross_corr",
    "ts_cross_series_sum", "ts_downsample_avg", "ts_downsample_count", "ts_downsample_dev",
    "ts_downsample_fill", "ts_downsample_max", "ts_downsample_min", "ts_downsample_p50",
    "ts_downsample_p95", "ts_downsample_sum", "ts_ewma", "ts_gap_report", "ts_gorilla_cost",
    "ts_holt", "ts_holt_winters", "ts_moving_avg", "ts_rate", "ts_rate_counter",
    "ts_seasonal_error", "ts_theil_sen", "ts_topn_series", "ts_trend")

  def dumpOracleSql(path: String): Unit = {
    val body = JObject(Names.toList.map(g => g -> JString(TimelyQueries.oracles(g))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      JsonMethods.pretty(JsonMethods.render(body)).getBytes("UTF-8"))
  }

  /** gate -> (sha256, rows) recorded from the oracle. */
  def recorded(data: String): Map[String, (String, Long)] = {
    val jv = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(data, "oracle_hashes.json")), "UTF-8"))
    (jv \ "gates") match {
      case JObject(fs) => fs.map { case (g, v) =>
        g -> ((v \ "sha256").asInstanceOf[JString].s, Expect.num(v \ "rows").toLong)
      }.toMap
      case _ => Map.empty
    }
  }

  /** One cache-cold pass, as `graft.Bench` runs it: per-gate seconds, the
    * pass's executor counters, and every gate's output checked. */
  def pass(spark: SparkSession, data: String, out: Outcome, t: Trace): Unit = {
    val want = recorded(data)
    spark.catalog.clearCache()
    val before = t.counters.snap()
    Names.foreach { g =>
      out.attempted.incrementAndGet()
      try {
        val df = TimelyQueries.queries(g)(spark, data)
        val cols = df.columns.sorted.toIndexedSeq
        val rows = t.span(s"queries.$g", 0L)(df.select(cols.map(df.col): _*).collect())
        out.layer(s"queries.${g}_s", t.named(s"queries.$g").last.ms / 1000)
        val got = Canon.hashRows(cols, rows.toIndexedSeq)
        if (!want.get(g).contains(got)) out.fail(s"$g: hash $got, oracle ${want.get(g)}")
      } catch { case e: Exception => out.fail(s"$g failed: $e") }
    }
    val d = t.counters.snap() - before
    out.layer("spark.jobs_per_pass", d.jobs.toDouble)
    out.layer("spark.cpu_s_per_pass", d.cpuNs / 1e9)
    out.layer("spark.gc_s_per_pass", d.gcMs / 1000.0)
    out.layer("spark.shuffle_mb_per_pass", d.shuffleBytes / 1048576.0)
    out.layer("spark.spill_mb_per_pass", d.spillBytes / 1048576.0)
  }
}
