package perfbench

import java.nio.file.Path
import graft.operators.SeriesOps
import graft.sources.{BenchIngest, Tables}
import graft.streaming.StreamPipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `daily`: incremental ingest with reads beside writes. Set-up loads a
  * history of days into the sink; then new days land one at a time. Each
  * day runs one `StreamPipelines.alertingStream` AvailableNow catch-up
  * (the pass), then the client sends a seeded mix of dashboard reads of
  * the merged sink through `Tables.table` (the requests). */
object Daily {
  val History = 20
  val MaxNewDays = 400
  val TestsPerPkg = 8

  final case class Dirs(root: Path) {
    val src = root.resolve("src")
    val sinkRoot = root.resolve("sink")
    val sink = sinkRoot.resolve("fact.parquet")
    val alerts = root.resolve("alerts")
    val ckpt = root.resolve("checkpoint")
  }

  def run(o: Opts, out: Outcome): Unit = {
    sys.props("graft.tableCache") = "checkpoint"
    val pkgs = BenchIngest.DefaultPackages
    val corpus = new Corpus(o.seed, History + MaxNewDays, TestsPerPkg, pkgs)
    val ref = new Reference(corpus)
    val dirs = (1 to Main.Setups).map { i =>
      val d = Dirs(o.work.resolve(s"daily-$i"))
      (0 until History - 1).foreach(corpus.writeDay(d.src, _))
      corpus.writeInvalidDirs(d.src)
      d
    }

    def catchUp(spark: SparkSession, d: Dirs): Unit = {
      val q = StreamPipelines.alertingStream(spark, d.src.toString, d.sink.toString,
        d.alerts.toString, d.ckpt.toString)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

    /** Sink rows and alerts must match the reference after `day`. */
    def verify(spark: SparkSession, d: Dirs, day: Int, id: String): Long = {
      val want = corpus.truthUpTo(day)
      val got = Reference.rows(spark.read.parquet(d.sink.toString)
        .select("pkg", "test", "date", "ns_per_op", "allocs_per_op", "bytes_per_op", "mb_per_s")
        .collect().toSeq)
      val sinkOk = Reference.sameUnordered(got, want.map(ref.factRow))
      val alerts = spark.read.parquet(d.alerts.toString)
        .select("pkg", "test", "date", "score").collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getDate(2).toLocalDate) -> r.getDouble(3))
      val wantAlerts = ref.alerts(want)
      val planted = corpus.plantedUpTo(day).map { case (p, t, dd) => (p, t, corpus.date(dd)) }
      val problems = Seq(
        (!sinkOk) -> s"sink holds ${got.size} rows, ${want.size} expected",
        (alerts.map(_._1).distinct.size != alerts.size) -> "a key alerted twice",
        (alerts.toMap.keySet != wantAlerts.keySet) -> s"${alerts.size} alerts, ${wantAlerts.size} expected",
        alerts.exists { case (k, v) => wantAlerts.get(k).exists(w => math.abs(w - v) > 1e-9) } -> "alert score",
        (wantAlerts.keySet != planted) -> "planted steps and >5% rises differ"
      ).collect { case (true, msg) => msg }
      out.check(id, problems)
      got.size.toLong
    }

    // set-up: bulk-load the history but its last day, then catch up on
    // that day alone, as every timed day will, and prime the read cache
    val spark = Main.setUp(o, out) { (i, spark) =>
      val d = dirs(i - 1)
      catchUp(spark, d)
      corpus.writeDay(d.src, History - 1)
      catchUp(spark, d)
      Tables.table(spark, d.sinkRoot.toString, "fact").count()
      ()
    }
    val d = dirs.last
    verify(spark, d, History - 1, "history")
    val cachedAtStart = Diagnostics.cachedMb(spark.sparkContext)
    val tr = Tracer.install(spark)
    val appends, tracedAppends, reads = Seq.newBuilder[Double]
    var startS, rowsReturned = 0.0
    var newRows, sinkRows = 0L
    sinkRows = spark.read.parquet(d.sink.toString).count()
    Main.loop(o) { i =>
      val day = History + i
      tr.on = o.trace && i % 2 == 1
      corpus.writeDay(d.src, day)
      try {
        val b0 = tr.batches.batchMs
        val (_, sec) = Stats.time(tr.span("streaming", "catch_up")(catchUp(spark, d)))
        (if (tr.on) tracedAppends else appends) += sec
        if (tr.on) startS += sec - (tr.batches.batchMs - b0) / 1e3
        val rows = verify(spark, d, day, s"day-$day")
        if (tr.on) newRows += rows - sinkRows
        sinkRows = rows
      } catch { case e: Throwable => out.threw(s"day-$day", e) }
      val want = corpus.truthUpTo(day)
      val rnd = new java.util.SplittableRandom(o.seed * 7919L + day)
      dashboardReads(rnd, corpus, ref, want, day).zipWithIndex.foreach { case ((name, read, expect, ordered), r) =>
        try {
          val t0 = System.nanoTime()
          val got = tr.span("client", "read") {
            val fact = tr.span("sources", "table")(Tables.table(spark, d.sinkRoot.toString, "fact"))
            tr.span("operators", name)(read(fact).collect().toSeq)
          }
          val sec = Stats.secondsSince(t0)
          if (!tr.on) reads += sec
          else rowsReturned += got.size
          val g = Reference.rows(got)
          val ok = if (ordered) Reference.sameOrdered(g, expect) else Reference.sameUnordered(g, expect)
          out.check(s"day-$day-read-$r-$name", if (ok) Nil else Seq(s"$name rows differ"))
        } catch { case e: Throwable => out.threw(s"day-$day-read-$r-$name", e) }
      }
    }
    tr.on = false
    val a = appends.result()
    val rd = reads.result()
    out.endToEnd("pass_s") = (Stats.median(a), "s")
    out.endToEnd("request_p50_ms") = (Stats.median(rd) * 1e3, "ms")
    out.endToEnd("request_p75_ms") = (Stats.quantile(rd, Main.P75) * 1e3, "ms")
    out.endToEnd("cached_mb") = (cachedAtStart, "MB")
    out.detail("append_p50_s") = (Stats.median(a), "s")
    out.detail("append_p90_s") = (Stats.quantile(a, 0.9), "s")
    out.detail("read_p50_ms") = (Stats.median(rd) * 1e3, "ms")
    out.detail("read_p90_ms") = (Stats.quantile(rd, 0.9) * 1e3, "ms")
    out.extra("append_s") = a.map(x => f"$x%.3f").mkString("[", ",", "]")
    out.extra("reads") = rd.size.toString
    if (o.trace) {
      Tracing.report(out, tr, a, tracedAppends.result())
      val (readScanned, _) = tr.layerRecords("operators")
      val (tableScanned, _) = tr.layerRecords("sources")
      out.layers("operators.rows_scanned_per_row_returned") =
        if (rowsReturned > 0) (readScanned + tableScanned) / rowsReturned else 0.0
      Tracing.sources(out, tr, tr.batches.inputRows, newRows)
      val (_, written) = tr.layerRecords("streaming")
      Tracing.streaming(out, tr.batches, startS, Sinks.measure(d.sink)._1,
        if (newRows > 0) written.toDouble / newRows else 0.0)
    }
    spark.stop()
  }

  type Read = DataFrame => DataFrame

  /** The day's dashboard reads: one of each kind, in seeded order, on
    * seeded series: (name, read, expected rows, ordered?). */
  private def dashboardReads(rnd: java.util.SplittableRandom, corpus: Corpus, ref: Reference,
      recs: Seq[Rec], day: Int): Seq[(String, Read, Seq[Seq[Any]], Boolean)] = {
    // series of packages with at least three live tests, so every kind applies
    val live = corpus.series.filter(_.firstDay <= day)
      .groupBy(_.pkg).values.filter(_.size >= 3).toSeq.sortBy(_.head.pkg).flatten
    def series() = live(rnd.nextInt(live.size))
    def some(pkg: String, k: Int) =
      new scala.util.Random(rnd.nextLong()).shuffle(live.filter(_.pkg == pkg).map(_.test)).take(k)
    val s = series()
    val u = series()
    val p = series().pkg
    val Seq(a, b) = some(p, 2)
    val ts = some(series().pkg, 3)
    val q = live.find(_.test == ts.head).get.pkg
    val all = Seq[(String, Read, Seq[Seq[Any]], Boolean)](
      ("series", SeriesOps.sortedSeries(_, s.pkg, s.test), ref.sortedSeries(recs, s.pkg, s.test), true),
      ("align", SeriesOps.alignSeries(_, p, a, b), ref.alignSeries(recs, p, a, b), true),
      ("pivot", SeriesOps.pivotWide(_, q, ts), ref.pivotWide(recs, q, ts), true),
      ("unpivot",
        f => SeriesOps.unpivotMetrics(f.filter(col("pkg") === u.pkg && col("test") === u.test)),
        ref.unpivot(recs, u.pkg, u.test), false),
      ("priority",
        f => SeriesOps.priorityOrder(SeriesOps.catalog(f), SeriesOps.ReferencePriorities),
        ref.priorityOrder(recs), true))
    new scala.util.Random(rnd.nextLong()).shuffle(all)
  }
}
