package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * Harness entry point. One JVM runs a workload against the program:
 *
 *   Main --workload <query|mixed> --seed <n> --seconds <s>
 *        --trace <0|1> --work <scratch dir> --data <perfbench/data>
 *   Main --self-test --work <dir>
 *   Main --dump-oracle-sql <file>
 *
 * It prints one line per metric (`metric <name> = <value> <unit> (n=<samples>)`),
 * the correctness verdict, and as its LAST line the result JSON. It exits 1
 * when any correctness check failed.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: String)

  /** End-to-end metrics every workload reports, in this order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "store_bytes_per_point" -> "B",
    "retained_heap_mb" -> "MB")

  /** What one workload run produced. */
  final class Outcome {
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var valid = true

    def fail(what: String): Unit = {
      failed.incrementAndGet()
      if (problems.size < 20) problems.add(what)
    }
    /** A named end-to-end figure with its sample count (printed only). */
    def show(name: String, value: Double, unit: String, n: Long): Unit =
      println(f"metric $name = ${fmt(value)} $unit (n=$n)")
    def showNa(name: String, unit: String, n: Long, why: String): Unit =
      println(s"metric $name = n/a $unit (n=$n; $why)")
    def layer(name: String, value: Double): Unit = layers(name) = value
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress note on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s] $msg")

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--dump-oracle-sql")) {
      Gates.dumpOracleSql(kv("dump-oracle-sql"))
      return
    }
    val work = kv.getOrElse("work", sys.error("--work is required"))
    if (args.contains("--self-test")) {
      sys.exit(if (SelfTest.run()) 0 else 1)
    }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", work, kv("data"))
    val spark = session(work)
    log(s"session up; workload ${o.workload}, seed ${o.seed}")
    val out = new Outcome
    val trace = if (o.trace) Some(new Trace(spark)) else None
    try {
      o.workload match {
        case "query" => Serving.query(spark, o, out, trace)
        case "mixed" => Serving.mixed(spark, o, out, trace)
        case other => sys.error(s"unknown workload: $other")
      }
    } catch {
      case e: Throwable =>
        out.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    trace.foreach { t =>
      t.write(s"$work/trace.jsonl")
      t.stop()
    }
    log("workload done")
    spark.stop()
    log("session stopped")
    report(o, out)
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def report(o: Opts, out: Outcome): Unit = {
    val attempted = math.max(1L, out.attempted.get)
    val failed = out.failed.get
    val ratio = failed.toDouble / attempted
    println(f"metric failed_ops_ratio = ${fmt(ratio)} ratio (n=$attempted)")
    out.problems.forEach(p => println(s"problem: $p"))
    val correct = failed == 0 && out.valid
    println(s"correctness: ${if (correct) "PASS" else "FAIL"} " +
      s"($failed failed of $attempted attempted${if (out.valid) "" else "; run invalid"})")
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) PerLayer.names.map { case (n, u) =>
        (n, out.layers.getOrElse(n, Double.NaN), u)
      }
      else EndToEnd.map { case (n, u) => (n, out.e2e.getOrElse(n, Double.NaN), u) }
    if (o.trace) metrics.foreach { case (n, v, u) => println(s"layer $n = ${fmt(v)} $u") }
    val missing = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    if (missing.nonEmpty) println(s"problem: not measured: ${missing.mkString(", ")}")
    val ok = correct && missing.isEmpty
    val body = metrics.filterNot(m => m._2.isNaN || m._2.isInfinite)
      .map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  // ---- shared helpers -------------------------------------------------------

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** Report p50 always and p90 only with at least 10 samples beyond it. */
  def latencies(out: Outcome, name: String, xs: Seq[Double]): Unit = {
    out.show(s"${name}_p50_ms", median(xs), "ms", xs.size)
    if (xs.size >= 100) out.show(s"${name}_p90_ms", pct(xs, 90), "ms", xs.size)
    else out.showNa(s"${name}_p90_ms", "ms", xs.size, "needs 100 samples")
  }

  /** Heap in use after a forced full collection. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the least of a few collections, so memory released asynchronously
    // (unpersisted blocks, finished listener events) is not counted
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Set-ups per run; `setup_s` is their median. Traced runs do the same, so
    * their end-to-end lines differ from an untraced run's only by tracing. */
  val SetUps = 3

  /** Time `reps` set-ups, each of which returns a handle whose `close`
    * releases it; keep the last one open. Returns (median seconds, handle). */
  def setUp[A](reps: Int)(make: Int => A)(close: A => Unit): (Double, A, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (i <- 0 until reps) {
      last.foreach(close)
      val t0 = System.nanoTime()
      last = Some(make(i))
      times += (System.nanoTime() - t0) / 1e9
      log(f"set-up ${i + 1} of $reps took ${times.last}%.2f s")
    }
    (median(times.toSeq), last.get, times.toSeq)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Poll `cond` every `everyMs` until it holds or `timeoutMs` passes. */
  def await(timeoutMs: Long, everyMs: Long = 20)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(everyMs); ok = cond }
    ok
  }

  /** Parquet files and bytes under a store directory, and its leaf partitions. */
  def storeStats(dir: String): (Long, Long, Long) = {
    var files, bytes = 0L
    val parts = scala.collection.mutable.HashSet.empty[String]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) {
        files += 1; bytes += f.length(); parts += f.getParent
      }
    walk(new File(dir))
    (files, bytes, parts.size.toLong)
  }
}
