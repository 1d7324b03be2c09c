package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Row counts of the stdout ingest parse, read from the executed plans'
  * own metrics: lines exploded (`posexplode`) from a text scan, and the
  * lines the benchmark-line filter above the explode kept. */
final class PlanRows(tracer: Tracer) extends QueryExecutionListener {
  var linesScanned, linesKept = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case x => x +: (x.children ++ x.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    if (tracer.on) synchronized {
      // the lowest filter above the posexplode is the benchmark-line filter
      nodes(qe.executedPlan).foreach {
        case f: FilterExec =>
          val below = nodes(f.child)
          below.collectFirst {
            case g: GenerateExec if g.generator.prettyName == "posexplode" &&
                nodes(g.child).exists {
                  case scan: FileSourceScanExec => scan.relation.fileFormat.toString == "Text"
                  case _ => false
                } => g
          }.filterNot(g => below.exists {
            case f2: FilterExec => nodes(f2.child).exists(_ eq g)
            case _ => false
          }).foreach { g => linesScanned += rows(g); linesKept += rows(f) }
        case _ =>
      }
    }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}

/** The per-layer report of a traced run. */
object Tracing {
  val Layers = Seq("sources", "operators", "streaming", "llm")
  val Families = Seq("llm" -> Seq("dedup", "similarity", "text", "graph", "models",
      "sampling", "pipeline", "multimodal"),
    "operators" -> Seq("relational", "functions", "bench"),
    "streaming" -> Seq("windows"))
  /** Layer table, family rollups and tracing overhead. `untraced` and
    * `traced` are the same pass times with tracing off and on. */
  def report(out: Outcome, tr: Tracer, untraced: Seq[Double], traced: Seq[Double]): Unit = {
    tr.drain()
    out.layers ++= tr.layerTable(Layers)
    Families.foreach { case (layer, fams) =>
      fams.foreach(f => out.layers(s"$layer.${f}_s") = tr.familySeconds(layer, f))
    }
    out.layers("trace.passes") = traced.size.toDouble
    out.layers("trace.overhead_frac") =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else Stats.median(traced) / Stats.median(untraced) - 1
  }

  /** The `sources.*` extras: listing jobs, files read by the stdout scan,
    * parse and dedup ratios, artifact builds. `factRows` is the rows the
    * dedup kept; `filesRead` the stdout files the scan read. */
  def sources(out: Outcome, tr: Tracer, filesRead: Long, factRows: Long): Unit = {
    val p = tr.plans
    out.layers("sources.list_s") = tr.listingSeconds
    out.layers("sources.files_listed") = filesRead.toDouble
    out.layers("sources.lines_scanned") = p.linesScanned.toDouble
    out.layers("sources.lines_kept_frac") =
      if (p.linesScanned > 0) p.linesKept.toDouble / p.linesScanned else 0.0
    out.layers("sources.dedup_kept_frac") =
      if (p.linesKept > 0) factRows.toDouble / p.linesKept else 0.0
    out.layers("sources.artifact_builds") = Builds.builds.toDouble
    out.layers("sources.artifact_build_s") = Builds.seconds
  }

  /** The `streaming.*` extras (zeros for workloads without a stream). */
  def streaming(out: Outcome, b: BatchLog, startS: Double, sinkFiles: Long,
      rewrittenPerNew: Double): Unit = {
    out.layers("streaming.batches") = b.batches.toDouble
    out.layers("streaming.batch_s") = b.batchMs / 1e3
    out.layers("streaming.get_batch_s") = b.getBatchMs / 1e3
    out.layers("streaming.add_batch_s") = b.addBatchMs / 1e3
    out.layers("streaming.query_start_s") = startS
    out.layers("streaming.sink_files") = sinkFiles.toDouble
    out.layers("streaming.rows_rewritten_per_new_row") = rewrittenPerNew
  }
}
