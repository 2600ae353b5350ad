package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and engine counters for the traced run.
  *
  * A span is recorded around every call the benchmark makes into a graft
  * module: name, module, start, end, parent span and request id. Spans live
  * in memory and are written out once, at the end. With tracing off,
  * [[span]] is a plain call.
  *
  * Spark jobs are attributed to modules by the call site Spark records for
  * each job: the innermost stack frame that belongs to a listed module
  * (`collect at Similarity.scala:…` → `Similarity`). A job whose call site
  * names no module (the benchmark's own persist-and-count, broadcasts run
  * on a pool thread) goes to the innermost span open when it started. */
object Trace {

  val Modules: Seq[String] = Seq("Pipelines", "ChunkCatalog", "IvfCatalog", "TableStore",
    "StreamingIngest", "DocLifecycle", "Compaction", "ClusterCatalog", "Similarity",
    "VectorSearch", "TextSearch", "Fusion", "Orchestrator", "Attribution", "Embedder",
    "Dedup", "Sampling", "Bpe", "TextFunctions")
  private val moduleSet = Modules.toSet

  case class Span(id: Int, parent: Int, module: String, name: String, request: Long,
                  startNs: Long, endNs: Long, startMs: Long)

  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long, Long)]
  private var nextId = 1
  var request = 0L

  def span[A](module: String, name: String)(body: => A): A = {
    if (!on) return body
    require(moduleSet.contains(module), s"unknown module $module")
    val id = nextId; nextId += 1
    stack.push((id, module, name, System.nanoTime(), System.currentTimeMillis()))
    try body
    finally {
      val (_, m, n, t0, ms0) = stack.pop()
      val parent = if (stack.isEmpty) 0 else stack.top._1
      spans += Span(id, parent, m, n, request, t0, System.nanoTime(), ms0)
    }
  }

  def reset(): Unit = { spans.clear(); jobs.clear(); stageJob.clear(); planMs.clear() }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per module: span duration minus the part its children cover. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.module).map { case (m, ss) =>
      m -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  /** Time covered by top-level spans. */
  def topLevelMs: Double = spans.filter(_.parent == 0).map(s => (s.endNs - s.startNs) / 1e6).sum

  // ------------------------------------------------------------ engine side

  case class Job(id: Int, startMs: Long, module: String, var taskMs: Double = 0,
                 var cpuMs: Double = 0, var gcMs: Double = 0, var shuffleBytes: Long = 0,
                 var spillBytes: Long = 0)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val planMs = mutable.ArrayBuffer.empty[Double]

  private def moduleOf(callSite: String): String = {
    val frames = callSite.split("\n").iterator.map(_.trim).filter(_.startsWith("graft."))
    frames.map { f =>
      val cls = f.takeWhile(_ != '(').split('.').dropRight(1).lastOption.getOrElse("")
      cls.stripSuffix("$").takeWhile(_ != '$')
    }.find(moduleSet.contains).getOrElse("")
  }

  object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.map(_.details).mkString("\n")
      jobs(e.jobId) = Job(e.jobId, e.time, moduleOf(site))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.taskMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Analysis, optimization and planning time of every completed query. */
  object QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Trace.synchronized { planMs += ms }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Rows the file scans of a persisted frame's executed plan read, from
    * the scans' SQL metrics. */
  object Scans extends AdaptiveSparkPlanHelper {
    def rows(df: DataFrame): Long =
      df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
        .map(c => collect(c.cachedRepresentation.cacheBuilder.cachedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum).getOrElse(0L)
  }

  /** Jobs whose call site named no module go to the innermost span that
    * was open when they started. */
  private def attributed: Seq[Job] = synchronized {
    jobs.values.toSeq.map { j =>
      if (j.module.nonEmpty) j
      else {
        val covering = spans.filter(s => s.startMs <= j.startMs &&
          s.startMs + (s.endNs - s.startNs) / 1000000L >= j.startMs)
        j.copy(module = if (covering.isEmpty) "unattributed" else covering.maxBy(_.startNs).module)
      }
    }
  }

  /** The per-layer metrics of one traced segment, per step. */
  def layerMetrics(steps: Int, wallMs: Double): Seq[(String, Double, String)] = {
    val self = selfMs
    val js = attributed
    val perStep = 1.0 / math.max(steps, 1)
    val byModule = js.groupBy(_.module)
    val perModule = Modules.flatMap { m =>
      val mj = byModule.getOrElse(m, Nil)
      Seq((s"$m.call_ms", self.getOrElse(m, 0.0) * perStep, "ms"),
        (s"$m.jobs", mj.size * perStep, "count"),
        (s"$m.task_ms", mj.map(_.taskMs).sum * perStep, "ms"))
    }
    val nq = synchronized(planMs.size)
    perModule ++ Seq(
      ("spark.plan_ms", synchronized(planMs.sum) * perStep, "ms"),
      ("spark.jobs_per_query", js.size.toDouble / math.max(nq, 1), "count"),
      ("spark.task_cpu_ms", js.map(_.cpuMs).sum * perStep, "ms"),
      ("spark.gc_ms", js.map(_.gcMs).sum * perStep, "ms"),
      ("spark.shuffle_write_bytes", js.map(_.shuffleBytes).sum * perStep, "B"),
      ("spark.spill_bytes", js.map(_.spillBytes).sum * perStep, "B"),
      ("trace.unattributed_ms", (wallMs - topLevelMs) * perStep, "ms"),
      ("trace.unattributed_jobs", js.count(_.module == "unattributed") * perStep, "count"))
  }

  /** Spans as JSON lines, one object per span. */
  def writeSpans(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"module":"${s.module}",""" +
        f""""name":"${s.name}","request":${s.request},"start_ns":${s.startNs},""" +
        f""""end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
