package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Client-side tracing: spans around the benchmark's calls into the
  * engine's public functions, with the Spark work under each span
  * attributed to it by a listener the benchmark registers itself.
  *
  * A span's own Spark jobs carry its job group. Jobs started on other
  * threads (streaming micro-batches) carry no such group; they go to the
  * innermost span open at the job's submit time. Self time is a span's
  * duration minus the time its child spans cover. Spans are kept in
  * memory and summarized at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  val plans = new PlanRows(this)
  val batches = new BatchLog(this)

  final class Span(val id: Long, val layer: String, val family: String,
      val parent: Span) {
    val t0Ns: Long = System.nanoTime()
    val t0Ms: Long = System.currentTimeMillis()
    @volatile var t1Ms: Long = Long.MaxValue
    var durNs = 0L
    var childNs = 0L
    var jobs, stages, tasks, failedTasks = 0L
    var cpuNs, gcMs, shuffleBytes, spillBytes, recordsRead, recordsWritten = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    def group = s"perfbench-$id"
  }

  private var nextId = 0L
  private var open: Span = null
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = mutable.HashMap.empty[String, Span]
  private val byStage = mutable.HashMap.empty[Int, Span]

  /** Run `body` as a span of `layer` (family: a finer label for rollups). */
  def span[T](layer: String, family: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        nextId += 1
        val s = new Span(nextId, layer, family, open)
        open = s; spans += s; byGroup(s.group) = s
        s
      }
      sc.setJobGroup(s.group, s"$layer $family")
      try body
      finally synchronized {
        s.durNs = System.nanoTime() - s.t0Ns
        s.t1Ms = System.currentTimeMillis()
        open = s.parent
        if (s.parent != null) {
          s.parent.childNs += s.durNs
          sc.setJobGroup(s.parent.group, s"${s.parent.layer} ${s.parent.family}")
        } else sc.clearJobGroup()
      }
    }

  private def spanAt(ms: Long): Span = {
    var i = spans.size - 1
    while (i >= 0) {
      val s = spans(i)
      if (s.t0Ms <= ms && ms <= s.t1Ms) return s
      i -= 1
    }
    null
  }

  /** Spark's parallel file-listing jobs: started (job id -> ms) and
    * the total seconds of those that ended while tracing. */
  private val listing = mutable.HashMap.empty[Int, Long]
  var listingSeconds = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val s = prop("spark.jobGroup.id").flatMap(byGroup.get).getOrElse(spanAt(e.time))
    if (s != null) {
      s.jobs += 1
      e.stageIds.foreach(byStage(_) = s)
      if (prop("spark.job.description").exists(_.startsWith("Listing leaf files")))
        listing(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    listing.remove(e.jobId).foreach(t => listingSeconds += (e.time - t) / 1e3)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
        s.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def finished: Seq[Span] = synchronized(spans.filter(_.t1Ms != Long.MaxValue).toSeq)

  /** Union length (ms) of task intervals clipped to the span's window. */
  private def busyMs(s: Span): Long = {
    val iv = s.busy.map { case (a, b) => (math.max(a, s.t0Ms), math.min(b, s.t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The per-layer table: `<layer>.<metric>` for each layer in `layers`
    * (a layer with no spans reports zeros). */
  def layerTable(layers: Seq[String]): Map[String, Double] = {
    val done = finished
    layers.flatMap { l =>
      val ss = done.filter(_.layer == l)
      val wallMs = ss.map(_.durNs / 1e6).sum
      val idleMs = ss.map(s => math.max(0.0, s.durNs / 1e6 - busyMs(s))).sum
      def sum(f: Span => Long) = ss.map(f).sum.toDouble
      Seq(
        "calls" -> ss.size.toDouble,
        "busy_s" -> wallMs / 1e3,
        "self_s" -> ss.map(s => (s.durNs - s.childNs) / 1e9).sum,
        "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
        "task_cpu_s" -> sum(_.cpuNs) / 1e9,
        "idle_frac" -> (if (wallMs > 0) idleMs / wallMs else 0.0),
        "gc_s" -> sum(_.gcMs) / 1e3,
        "shuffle_mb" -> sum(_.shuffleBytes) / 1048576.0,
        "spill_mb" -> sum(_.spillBytes) / 1048576.0,
        "failed_tasks" -> sum(_.failedTasks)
      ).map { case (k, v) => s"$l.$k" -> v }
    }.toMap
  }

  /** Seconds per family label of `layer`'s spans. */
  def familySeconds(layer: String, family: String): Double =
    finished.filter(s => s.layer == layer && s.family == family).map(_.durNs / 1e9).sum

  def layerRecords(layer: String): (Long, Long) = {
    val ss = finished.filter(_.layer == layer)
    (ss.map(_.recordsRead).sum, ss.map(_.recordsWritten).sum)
  }
}

object Tracer {
  /** A tracer that is never on: spans just run their body. */
  def off(spark: SparkSession): Tracer = new Tracer(spark.sparkContext)

  /** A tracer registered on the session's context, plus the plan-row
    * counter and the artifact-build hook, all off until `on` is set. */
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.plans)
    spark.streams.addListener(t.batches)
    t
  }
}

/** Micro-batch timings of the streaming queries the run starts. */
final class BatchLog(tracer: Tracer) extends StreamingQueryListener {
  var batches, batchMs, getBatchMs, addBatchMs, inputRows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (tracer.on) synchronized {
      val d = e.progress.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      batchMs += ms("triggerExecution")
      getBatchMs += ms("getBatch") + ms("latestOffset")
      addBatchMs += ms("addBatch")
      inputRows += e.progress.numInputRows
    }
}

/** Artifact builds reported by the engine's `Tables.onArtifactBuild`,
  * counted since the last `reset` (the start of the latest set-up). */
object Builds {
  var builds = 0L
  var seconds = 0.0
  graft.sources.Tables.onArtifactBuild = (_, s) => synchronized { builds += 1; seconds += s }
  def reset(): Unit = synchronized { builds = 0; seconds = 0.0 }
}

/** Host and JVM diagnostics: they explain a slow window, they never
  * rescale a metric. */
object Diagnostics {
  /** A fixed CPU probe: the same integer work on every run. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1 }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(_.getUsage.getUsed.max(0L)).sum / 1048576.0

  /** Storage memory held by cached and checkpointed RDD blocks. */
  def cachedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}
