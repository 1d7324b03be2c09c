package perfbench

import java.nio.file.{Files, Path}
import graft.operators.BenchSinks
import graft.sources.{BenchIngest, Tables}
import org.apache.spark.sql.SparkSession

/** `publish`: the nightly full rebuild. A seeded stdout tree is ingested
  * (`BenchIngest.ingest`, materialized once with `Tables.materialize`)
  * and published as one series JSON per test plus the catalog. One
  * rebuild is both a pass and a request of this workload. */
object Publish {
  val Days = 60
  val TestsPerPkg = 16
  val WarmUp = 3

  final case class Rebuild(dst: Path, seconds: Double, cachedMb: Double)

  def run(o: Opts, out: Outcome): Unit = {
    val corpus = new Corpus(o.seed, Days, TestsPerPkg, BenchIngest.DefaultPackages)
    val src = o.work.resolve("publish-src")
    (0 until Days).foreach(corpus.writeDay(src, _))
    corpus.writeInvalidDirs(src)
    val recs = corpus.truthUpTo(Days - 1)
    val ref = new Reference(corpus)
    var n = 0

    def rebuild(spark: SparkSession, tr: Tracer): Rebuild = {
      n += 1
      val dst = o.work.resolve(s"publish-out-$n")
      val t0 = System.nanoTime()
      tr.span("client", "rebuild") {
        val fact = tr.span("sources", "ingest") {
          Tables.materialize(BenchIngest.ingest(spark, src.toString))
        }
        tr.span("operators", "series_sink") {
          BenchSinks.writeSeriesJsonExact(fact, dst.resolve("series").toString)
        }
        tr.span("operators", "catalog_sink") {
          BenchSinks.writeCatalogJson(fact, dst.resolve("catalog").toString)
        }
      }
      val sec = Stats.secondsSince(t0)
      val mb = Diagnostics.cachedMb(spark.sparkContext)
      Tables.releaseTransients(spark)
      Rebuild(dst, sec, mb)
    }

    def verify(dst: Path, id: String): Unit = {
      out.check(id, ref.checkSeriesDir(dst.resolve("series"), recs) ++
        ref.checkCatalogDir(dst.resolve("catalog"), recs))
      Files.walk(dst).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }

    val spark = Main.setUp(o, out) { (i, spark) =>
      verify(rebuild(spark, Tracer.off(spark)).dst, s"setup-$i")
    }
    // untimed passes after set-up: rebuild times keep falling for the
    // first ~6 rebuilds of a JVM as the JIT settles
    (1 to WarmUp).foreach(i => verify(rebuild(spark, Tracer.off(spark)).dst, s"warm-up-$i"))
    val tr = Tracer.install(spark)
    val untraced, traced, cached = Seq.newBuilder[Double]
    var files, bytes, tracedRebuilds = 0L
    Main.loop(o) { i =>
      tr.on = o.trace && i % 2 == 1
      try {
        val r = rebuild(spark, tr)
        (if (tr.on) traced else untraced) += r.seconds
        cached += r.cachedMb
        if (tr.on) {
          val (f, b) = Sinks.measure(r.dst)
          files += f; bytes += b; tracedRebuilds += 1
        }
        verify(r.dst, s"rebuild-$i")
      } catch { case e: Throwable => out.threw(s"rebuild-$i", e) }
    }
    tr.on = false
    val times = untraced.result()
    out.endToEnd("pass_s") = (Stats.median(times), "s")
    out.endToEnd("request_p50_ms") = (Stats.median(times) * 1e3, "ms")
    out.endToEnd("request_p75_ms") = (Stats.quantile(times, Main.P75) * 1e3, "ms")
    out.endToEnd("cached_mb") = (Stats.median(cached.result()), "MB")
    out.detail("publish_s") = (Stats.median(times), "s")
    out.extra("rebuild_s") = times.map(x => f"$x%.3f").mkString("[", ",", "]")
    if (o.trace) {
      Tracing.report(out, tr, times, traced.result())
      Tracing.sources(out, tr, tr.layerRecords("sources")._1, recs.size * tracedRebuilds)
      out.layers("operators.sink_write_s") =
        tr.familySeconds("operators", "series_sink") + tr.familySeconds("operators", "catalog_sink")
      out.layers("operators.sink_files_written") = files.toDouble
      out.layers("operators.sink_mb_written") = bytes / 1048576.0
    }
    spark.stop()
  }
}

object Sinks {
  /** (files, bytes) under a dir. */
  def measure(dir: Path): (Long, Long) = {
    var files, bytes = 0L
    Files.walk(dir).filter(Files.isRegularFile(_)).forEach { p => files += 1; bytes += Files.size(p) }
    (files, bytes)
  }
}
