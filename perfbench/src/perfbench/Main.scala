package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command line of the JVM side; `perfbench/run.py` builds and calls it. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, tables: String, out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m.getOrElse("tables", ""),
      Paths.get(m("out")).toAbsolutePath)
  }
}

/** What one run measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** The end-to-end metrics BENCHMARK.json lists. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own metrics, printed for reading (not gated). */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, String]

  def check(id: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; failures += id -> problems.take(3).mkString("; ") }
  }

  def threw(id: String, e: Throwable): Unit = {
    attempted += 1; failed += 1; failures += id -> Outcome.rootCause(e)
  }
}

object Outcome {
  def rootCause(e: Throwable): String = {
    var r = e
    while (r.getCause != null && (r.getCause ne r)) r = r.getCause
    s"${r.getClass.getSimpleName}: ${Option(r.getMessage).getOrElse("").takeWhile(_ != '\n').take(160)}"
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secondsSince(t0))
  }
}

object Main {
  /** local[4]: at most the host's 4 cores; one client thread drives it. */
  val Cores = 4
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** The upper percentile the request_p75_ms metric reports. */
  val P75 = 0.75

  /** Run `pass(i)` for i = 0, 1, ... until `o.seconds` have passed. */
  def loop(o: Opts)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (Stats.secondsSince(t0) < o.seconds) { pass(i); i += 1 }
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `Setups` times, each in a fresh session, and keep the last
    * session; reports setup_s as the median. `prepare(i, spark)` does
    * the workload's part of set-up attempt `i`. */
  def setUp(o: Opts, out: Outcome)(prepare: (Int, SparkSession) => Unit): SparkSession = {
    var spark: SparkSession = null
    val times = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      Builds.reset()
      val t0 = System.nanoTime()
      spark = session(o.work)
      prepare(i, spark)
      Stats.secondsSince(t0)
    }
    out.endToEnd("setup_s") = (Stats.median(times), "s")
    out.extra("setup_runs_s") = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val out = new Outcome
    val calib0 = Diagnostics.calibrate()
    val gc0 = Diagnostics.gcSeconds()
    o.workload match {
      case "publish" => Publish.run(o, out)
      case "daily" => Daily.run(o, out)
      case "registry" => Registry.run(o, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calib1 = Diagnostics.calibrate()
    out.layers("host.calib_s") = calib0
    out.layers("host.calib_end_s") = calib1
    out.layers("jvm.gc_s") = Diagnostics.gcSeconds() - gc0
    out.layers("jvm.code_cache_mb") = Diagnostics.codeCacheMb()
    Files.writeString(o.out, Json.result(out))
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def metrics(m: collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def result(o: Outcome): String =
    Seq(
      s"\"attempted\": ${o.attempted}",
      s"\"failed\": ${o.failed}",
      "\"failures\": " + o.failures.map { case (i, c) => s"[${str(i)}, ${str(c)}]" }.mkString("[", ", ", "]"),
      "\"end_to_end\": " + metrics(o.endToEnd),
      "\"detail\": " + metrics(o.detail),
      "\"layers\": " + o.layers.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}"),
      "\"extra\": " + o.extra.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    ).mkString("{", ", ", "}")
}
