package perfbench

import java.nio.file.Files
import graft.SparkEntry
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** `registry`: `SparkEntry.queries` entries over seeded star-schema
  * tables, warm (`graft.tableCache=checkpoint`). Each timed query's full
  * result is collected (every row and column). The first timed result
  * of each query is written out for the oracle compare in run.py. */
object Registry {
  /** One query per module (every module but `bench`): the module's
    * query at the median of its warm time, measured over the whole
    * registry at fixture scale sf0.01 on 4 cores. Graph and dedup are
    * represented instead by the two queries the ROADMAP names: pagerank
    * (decimal-sum compute) and cluster_depth (a job-heavy loop). The
    * whole registry takes minutes a pass and fixed per-query costs
    * dominate at this scale, so a sample keeps a run within its time
    * budget. The `bench_*` queries are left out: they read a fixture
    * tree at a fixed path outside the benchmark's directory, and
    * `publish` drives the same ingest and sink code. */
  val Queries = Seq(
    "q70_dormant_capital", "q19_range_join", "llm_ta_lm_score",
    "llm_sample_clip_sweep", "llm_ss_sq8_search", "llm_mm_scene_segments",
    "llm_pipeline_cdc_merge", "llm_ta_ridge", "st_concurrency",
    "llm_graph_pagerank", "llm_dd_cluster_depth")

  /** (layer, family) of the module that registers a query. */
  val Family: Map[String, (String, String)] = Seq(
    graft.operators.RelationalQueries.registry -> ("operators", "relational"),
    graft.operators.FunctionQueries.registry -> ("operators", "functions"),
    graft.operators.BenchQueries.registry -> ("operators", "bench"),
    graft.llm.TextAnalysis.registry -> ("llm", "text"),
    graft.llm.Dedup.registry -> ("llm", "dedup"),
    graft.llm.Sampling.registry -> ("llm", "sampling"),
    graft.llm.Similarity.registry -> ("llm", "similarity"),
    graft.llm.Multimodal.registry -> ("llm", "multimodal"),
    graft.llm.Pipeline.registry -> ("llm", "pipeline"),
    graft.llm.Graph.registry -> ("llm", "graph"),
    graft.llm.Models.registry -> ("llm", "models"),
    graft.streaming.WindowQueries.registry -> ("streaming", "windows")
  ).flatMap { case (reg, f) => reg.keys.map(_ -> f) }.toMap

  def run(o: Opts, out: Outcome): Unit = {
    sys.props("graft.tableCache") = "checkpoint"
    val dir = o.tables
    val fns = Queries.map(n => n -> SparkEntry.queries(n))

    def query(spark: SparkSession, tr: Tracer, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (DataFrame, Array[Row], Double) = {
      val (layer, family) = Family(name)
      val t0 = System.nanoTime()
      val (df, rows) = tr.span(layer, family) {
        val df = fn(spark, dir)
        (df, df.collect())
      }
      val sec = Stats.secondsSince(t0)
      Tables.releaseTransients(spark)
      (df, rows, sec)
    }

    // a query that throws here is counted in the timed sweeps
    def sweepUntimed(spark: SparkSession): Unit = fns.foreach { case (n, f) =>
      try query(spark, Tracer.off(spark), n, f)
      catch { case _: Throwable => () }
    }
    val spark = Main.setUp(o, out)((_, spark) => sweepUntimed(spark))
    // one untimed sweep after set-up, so the timed sweeps start from a
    // settled JIT
    sweepUntimed(spark)
    val cachedAtStart = Diagnostics.cachedMb(spark.sparkContext)
    val tr = Tracer.install(spark)
    val first = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val untraced, traced = Seq.newBuilder[Double]
    val runs = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    Main.loop(o) { i =>
      tr.on = o.trace && i % 2 == 1
      var sweep = 0.0
      fns.foreach { case (n, f) =>
        try {
          val (df, rows, sec) = query(spark, tr, n, f)
          sweep += sec
          runs(n) += 1
          if (!tr.on) perQuery(n) = perQuery.getOrElse(n, Vector.empty) :+ sec
          if (!first.contains(n)) first(n) = spark.createDataFrame(rows.toSeq.asJava, df.schema)
        } catch { case e: Throwable => out.threw(n, e) }
      }
      (if (tr.on) traced else untraced) += sweep
    }
    tr.on = false
    // one attempt per timed execution; mismatches are counted by run.py
    out.attempted += runs.values.sum
    val medians = perQuery.values.map(Stats.median).toSeq
    val all = perQuery.values.flatten.toSeq
    out.endToEnd("pass_s") = (medians.sum, "s")
    out.endToEnd("request_p50_ms") = (Stats.median(all) * 1e3, "ms")
    out.endToEnd("request_p75_ms") = (Stats.quantile(all, Main.P75) * 1e3, "ms")
    out.endToEnd("cached_mb") = (cachedAtStart, "MB")
    out.detail("registry_s") = (medians.sum, "s")
    out.detail("registry_q_p50_s") = (Stats.median(medians), "s")
    out.extra("sweep_s") = untraced.result().map(x => f"$x%.3f").mkString("[", ",", "]")
    out.extra("runs") = runs.map { case (k, v) => s"$k=$v" }.mkString(",")
    out.extra("query_s") = perQuery.map { case (k, v) => f"$k=${Stats.median(v)}%.4f" }.mkString(",")
    if (o.trace) {
      Tracing.report(out, tr, untraced.result(), traced.result())
      Tracing.sources(out, tr, 0L, 0L)
    }
    val res = o.work.resolve("results")
    first.foreach { case (n, df) => df.coalesce(1).write.parquet(res.resolve(n).toString) }
    Files.writeString(o.work.resolve("oracle.json"),
      Queries.filter(SparkEntry.oracleSql.contains)
        .map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ", ", "}"))
    spark.stop()
  }
}
