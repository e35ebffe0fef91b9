package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import Gen._

/**
 * The generator's own test (`python3 perfbench/run.py --self-test`):
 *  - one seed yields byte-identical inputs (put lines, preload, query JSON);
 *  - another seed yields different ones;
 *  - the hour anchoring gives a fixed partition count for every seed.
 */
object SelfTest {

  /** Every input a seed produces, as bytes. */
  def inputs(seed: Long): Seq[(String, Array[Byte])] = {
    def bytes(lines: Seq[String]) = lines.mkString("\n").getBytes(UTF_8)
    Seq(
      "query.preload" -> bytes(queryPreload(seed, Serving.QueryPerSeries).map(_.line)),
      "query.requests" -> bytes((0 until Serving.QueryClients).flatMap(c => queryMix(seed, c, 200).map(_.json))),
      "mixed.history" -> bytes(mixedHistory(seed).map(_.line)),
      "mixed.bursts" -> bytes((0 until 60).flatMap { k => val (b, p) = burst(seed, k); (b :+ p).map(_.line) }),
      "mixed.narrow" -> bytes(mixedNarrow(seed, 200).map(s => Narrow(s, 0, 1).json)),
      "replay" -> bytes(PerLayer.replayRequests("query", seed).map(_.json)))
  }

  def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  def run(): Boolean = {
    var ok = true
    def check(cond: Boolean, what: String): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    for (seed <- Seq(1L, 2L, 12345L)) {
      val a = inputs(seed).map { case (k, b) => k -> sha(b) }
      val b = inputs(seed).map { case (k, b) => k -> sha(b) }
      check(a == b, s"seed $seed: inputs are byte-identical across generations")
      val c = inputs(seed + 1).map { case (k, b) => k -> sha(b) }
      a.zip(c).foreach { case ((k, x), (_, y)) => check(x != y, s"seed $seed vs ${seed + 1}: $k differs") }
    }
    for (seed <- 1L to 5L) {
      val q = queryPreload(seed, Serving.QueryPerSeries).map(partition).toSet
      check(q.size == Metrics.size * QueryHours, s"seed $seed: query preload spans ${q.size} partitions")
      val m = (mixedHistory(seed) ++ (0 until 1200).flatMap { k => val (b, p) = burst(seed, k); b :+ p })
        .map(partition).toSet
      check(m.size == Metrics.size + 1, s"seed $seed: mixed history and 20 min of bursts span ${m.size} partitions")
    }
    ok
  }
}
