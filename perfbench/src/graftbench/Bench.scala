package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One foreground call of a workload: what it was, how long it took,
  * whether its output passed the workload's checks, whether it was a read
  * request, and for a write call the documents and bytes it wrote. */
case class Op(kind: String, ms: Double, ok: Boolean, read: Boolean = false, docs: Long = 0L,
              bytes: Long = 0L)

object Op {
  /** Times a write call and the bytes the process wrote during it. */
  def write[A](kind: String, docs: Long)(body: => A)(ok: A => Boolean): (A, Op) = {
    val w0 = Util.wcharBytes()
    val (r, ms) = Util.timed(body)
    (r, Op(kind, ms, ok(r), docs = docs, bytes = Util.wcharBytes() - w0))
  }
}

/** A workload drives the library's public API from the client (driver)
  * thread, one call at a time: a closed loop with one client. */
trait Workload {
  /** Build everything the timed loop reads, from `seed`, under `dir`. */
  def setup(seed: Long, dir: File): Unit
  /** Untimed calls of every kind on inputs drawn from another seed: JIT
    * and codegen warm-up. */
  def warmup(): Unit
  /** The `i`-th step of the timed loop: one or more foreground calls. With
    * `traced`, each layer's output is persisted and counted inside its own
    * span, so a span covers only its layer's work. */
  def step(i: Int, traced: Boolean): Seq[Op]
  /** After the loop: workload metrics (name, value, unit) and the number of
    * failed checks that are not tied to one op. */
  def finish(ops: Seq[Op]): (Seq[(String, Double, String)], Int)
  /** Fraction of the exact top-10 that the IVF index's top-10 holds. */
  def recall: Double
  /** Counts read off layer outputs, keyed by per-layer metric name. */
  def counts: Map[String, Double]
}

/** Entry point: `graftbench.Bench --workload W --seed N --seconds S
  * --trace 0|1 --dir RUN_DIR --traces SPAN_DIR --cores C`. Prints the result object as the
  * last stdout line; a human-readable table goes to stderr. */
object Bench {

  /** The per-layer metric names, fixed for every workload. */
  val CountNames: Seq[(String, String)] = Seq("Similarity.rows_scanned_per_query" -> "count",
    "Chunker.chunks_per_doc" -> "count", "StreamingIngest.appended_per_offered" -> "fraction",
    "Compaction.bytes_rewritten" -> "B", "Dedup.pairs_per_doc" -> "count",
    "Dedup.spans_flagged_per_doc" -> "count", "TextFunctions.gate_pass_ratio" -> "fraction",
    "Sampling.pack_fill" -> "fraction")
  /** Workload-specific numbers, measured in the traced run's untraced half. */
  val WorkloadNames: Seq[(String, String)] = Seq("workload.freshness_p50_ms" -> "ms",
    "workload.ingest_docs_per_s" -> "docs/s", "workload.store_bytes_per_doc" -> "B",
    "workload.index_docs_per_s" -> "docs/s", "workload.curate_docs_per_s" -> "docs/s",
    "workload.ivf_p50_ms" -> "ms", "workload.orchestrator_p50_ms" -> "ms",
    "workload.error_rate" -> "fraction", "workload.peak_heap_mb" -> "MB")

  def session(dir: File, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.local.dir", new File(dir, "local").getPath)
      .config("spark.sql.session.timeZone", "UTC")
    val spark = graft.GraftSession.dataSizedShuffle(b, cores, dir.getPath).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val dir = new File(arg(args, "dir"))
    val cores = arg(args, "cores").toInt
    val spark = session(dir, cores)
    try {
      spark.listenerManager.register(PlanCapture)
      if (traced) {
        spark.sparkContext.addSparkListener(Trace.JobListener)
        spark.listenerManager.register(Trace.QueryListener)
      }
      val w: Workload = workload match {
        case "serve_ingest" => new ServeIngest(spark)
        case "batch" => new Batch(spark)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println(run(spark, w, workload, seed, seconds, traced, dir, new File(arg(args, "traces"))))
    } finally spark.stop()
  }

  def run(spark: SparkSession, w: Workload, name: String, seed: Long, seconds: Double,
          traced: Boolean, dir: File, traces: File): String = {
    val (_, setupMs) = Util.timed { w.setup(seed, new File(dir, "setup")); w.warmup() }
    val budgetMs = seconds * 1000
    if (!traced) {
      val (ops, _, heap) = loop(w, budgetMs, traced = false)
      val (extra, failedChecks) = w.finish(ops)
      val reads = ops.filter(_.read).map(_.ms)
      val writes = ops.filterNot(_.read)
      val docs = writes.map(_.docs).sum
      val e2e = Seq(
        ("setup_s", setupMs / 1000, "s"),
        ("read_p50_ms", Util.median(reads), "ms"),
        ("reads_per_s", reads.size / (reads.sum / 1000), "1/s"),
        ("docs_per_s", docs / (writes.map(_.ms).sum / 1000), "docs/s"),
        ("recall_at_10", w.recall, "fraction"),
        ("write_bytes_per_doc", writes.map(_.bytes).sum.toDouble / docs, "B"))
      report(name, seed, ops, setupMs, e2e ++ extra :+ ("peak_heap_mb", heap, "MB"))
      result(ops, failedChecks, e2e)
    } else {
      // first half untraced (the baseline for the overhead and the source
      // of the workload metrics), second half traced
      val (ops0, steps0, heap) = loop(w, budgetMs / 2, traced = false)
      val (extra, failedChecks) = w.finish(ops0)
      Trace.reset()
      Trace.on = true
      val t1 = Util.nowMs
      val (ops1, steps1, _) = try loop(w, budgetMs / 2, traced = true) finally Trace.on = false
      val loop1 = Util.nowMs - t1
      Thread.sleep(500) // let the listener bus drain
      val perStep = (os: Seq[Op], steps: Int) => os.map(_.ms).sum / steps
      val layers = Trace.layerMetrics(steps1, loop1) ++
        Seq(("trace.overhead_ms", perStep(ops1, steps1) - perStep(ops0, steps0), "ms"),
          ("trace.spans", Trace.allSpans.size.toDouble, "count")) ++
        CountNames.map { case (n, u) => (n, w.counts.getOrElse(n, 0.0), u) } ++
        WorkloadNames.map { case (n, u) =>
          (n, (extra :+ ("peak_heap_mb", heap, "MB")).find(_._1 == n.stripPrefix("workload."))
            .map(_._2).getOrElse(0.0), u)
        }
      traces.mkdirs()
      val spanFile = new File(traces, s"spans-$name-$seed.jsonl")
      Trace.writeSpans(spanFile)
      System.err.println(s"[graftbench] ${Trace.allSpans.size} spans written to $spanFile")
      layerTable(layers)
      result(ops0 ++ ops1, failedChecks, layers)
    }
  }

  /** Closed loop: steps until the budget is spent (at least one step).
    * Returns the ops, the step count, and the old-gen peak. */
  def loop(w: Workload, budgetMs: Double, traced: Boolean): (Seq[Op], Int, Double) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var heap = 0.0
    val t0 = Util.nowMs
    var i = 0
    while (i == 0 || Util.nowMs - t0 < budgetMs) {
      Trace.request = i
      ops ++= (try w.step(i, traced) catch {
        case NonFatal(e) =>
          System.err.println(s"[graftbench] step $i failed: $e")
          Seq(Op("error", 0.0, ok = false))
      })
      heap = math.max(heap, Util.peakOldGenMb())
      i += 1
    }
    (ops.toSeq, i, heap)
  }

  def result(ops: Seq[Op], failedChecks: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val failed = ops.count(!_.ok) + failedChecks
    val attempted = ops.size + failedChecks
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def report(name: String, seed: Long, ops: Seq[Op], setupMs: Double,
                     metrics: Seq[(String, Double, String)]): Unit = {
    val err = System.err
    err.println(f"[graftbench] $name seed=$seed ops=${ops.size} setup=${setupMs / 1000}%.2f s")
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      err.println(f"  op $k%-14s n=${os.size}%4d p50=${Util.median(os.map(_.ms))}%9.1f ms " +
        f"failed=${os.count(!_.ok)}")
    }
    metrics.foreach { case (n, v, u) => err.println(f"  $n%-28s $v%14.4f $u") }
  }

  private def layerTable(layers: Seq[(String, Double, String)]): Unit = {
    val m = layers.map(l => l._1 -> l._2).toMap
    System.err.println(f"  ${"module"}%-16s ${"self ms/step"}%12s ${"jobs/step"}%10s ${"task ms/step"}%13s")
    (Trace.Modules :+ "unattributed").foreach { mod =>
      System.err.println(f"  $mod%-16s ${m.getOrElse(s"$mod.call_ms", m.getOrElse("trace.unattributed_ms", 0.0))}%12.1f " +
        f"${m.getOrElse(s"$mod.jobs", m.getOrElse("trace.unattributed_jobs", 0.0))}%10.2f " +
        f"${m.getOrElse(s"$mod.task_ms", 0.0)}%13.1f")
    }
    layers.filterNot(l => Seq(".call_ms", ".jobs", ".task_ms").exists(l._1.endsWith))
      .foreach { case (n, v, u) => System.err.println(f"  $n%-36s $v%14.4f $u") }
  }
}
