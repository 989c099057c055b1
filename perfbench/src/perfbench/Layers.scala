package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

/** The per-layer metric set. Every traced run reports all of them, with
  * 0 for spans its workload never enters, so runs of different
  * workloads share one schema. Values are per traced iteration. */
object Layers {
  val Spans: Seq[String] = Seq(
    Trace.Root,
    "sources.Tables.load",
    "types.SchemaOps.analyze",
    "operators.Concat.concat",
    "operators.General.mapCol",
    "operators.General.mapColumnNames",
    "operators.General.withGroupTotals",
    "operators.Grouped.applyPerGroup",
    "operators.Reshape.shiftedWithinYearFfill",
    "sources.Sinks.writePartitioned",
    "operators.Dedup.exactTextDedup",
    "operators.Dedup.minHashNearDupPairs",
    "operators.Components.connectedComponents",
    "operators.Dedup.keepBestPerCluster",
    "operators.Ivf.train",
    "operators.Similarity.semanticDedup",
    "operators.Dedup.signatureLedger",
    "streaming.StreamGate.replayNearDupGate",
    "streaming.StreamGate.replayIncrementalRollup",
    "streaming.StreamGate.replaySessionize",
    "spark.action.checkpoint",
    "spark.action.collect")

  /** Spans that run jobs whose codegen time is worth its own metric. */
  val CodegenSpans: Seq[String] = Seq(
    "sources.Sinks.writePartitioned",
    "operators.Components.connectedComponents",
    "operators.Ivf.train",
    "operators.Similarity.semanticDedup",
    "streaming.StreamGate.replayNearDupGate",
    "spark.action.checkpoint",
    "spark.action.collect")

  val Engine: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exec.tasks" -> "count", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.scheduler_delay_s" -> "s", "exec.tasks_failed" -> "count",
    "exec.stages_retried" -> "count", "exec.spill_mb" -> "MB", "exec.wscg_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.skew" -> "ratio",
    "jvm.heap_peak_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** (name, unit, better) of every per-layer metric, in report order. */
  val All: Seq[(String, String, String)] =
    Spans.flatMap { s =>
      Seq((s"$s.self_s", "s", "lower"), (s"$s.jobs", "count", "lower"),
        (s"$s.task_cpu_s", "s", "lower"), (s"$s.shuffle_mb", "MB", "lower")) ++
        (if (CodegenSpans.contains(s)) Seq((s"$s.wscg_s", "s", "lower")) else Nil)
    } ++ Engine.map { case (n, u) => (n, u, "lower") }

  private val MB = 1048576.0

  def compute(spans: Seq[Trace.Span], l: EngineListener, batches: Seq[StreamBatch],
      codegen: Codegen.Delta, iterations: Int, heapPeakMb: Double,
      overhead: Double): Seq[(String, Metric)] = {
    val n = math.max(1, iterations).toDouble
    val self = Trace.selfSecs(spans)
    val nameOf = spans.map(s => s.id -> s.name).toMap
    val byName = mutable.HashMap.empty[String, Counters]
    l.synchronized {
      l.bySpan.foreach { case (id, c) =>
        nameOf.get(id).foreach(n => byName.getOrElseUpdate(n, new Counters).add(c))
      }
    }
    // Engine totals cover the traced pipelines only, not their checks.
    val total = new Counters
    byName.values.foreach(total.add)
    val v = mutable.HashMap.empty[String, Double]
    Spans.foreach { s =>
      val c = byName.getOrElse(s, new Counters)
      v(s"$s.self_s") = spans.filter(_.name == s).map(x => self(x.id)).sum / n
      v(s"$s.jobs") = c.jobs / n
      v(s"$s.task_cpu_s") = c.cpuNs / 1e9 / n
      v(s"$s.shuffle_mb") = (c.shuffleWrite + c.shuffleRead) / MB / n
      v(s"$s.wscg_s") = c.wscgMs / 1000.0 / n
    }
    v("catalyst.analysis_s") = total.analysisMs / 1000.0 / n
    v("catalyst.optimization_s") = total.optimizationMs / 1000.0 / n
    v("catalyst.planning_s") = total.planningMs / 1000.0 / n
    v("exec.tasks") = total.tasks / n
    v("exec.task_cpu_s") = total.cpuNs / 1e9 / n
    v("exec.gc_s") = total.gcMs / 1000.0 / n
    v("exec.scheduler_delay_s") = total.schedDelayMs / 1000.0 / n
    v("exec.tasks_failed") = total.tasksFailed / n
    v("exec.stages_retried") = total.stagesRetried / n
    v("exec.spill_mb") = total.spill / MB / n
    v("exec.wscg_s") = total.wscgMs / 1000.0 / n
    v("shuffle.write_mb") = total.shuffleWrite / MB / n
    v("shuffle.read_mb") = total.shuffleRead / MB / n
    v("shuffle.skew") = l.shuffleSkew
    v("jvm.heap_peak_mb") = heapPeakMb
    val nb = batches.size.toDouble
    def mean(f: StreamBatch => Long) = if (batches.isEmpty) 0.0 else batches.map(f).sum / nb
    v("streaming.batches") = nb / n
    v("streaming.add_batch_ms") = mean(_.addBatchMs)
    v("streaming.query_planning_ms") = mean(_.planningMs)
    v("streaming.wal_commit_ms") = mean(_.walCommitMs)
    v("streaming.state_rows") = if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble
    v("streaming.state_mb") =
      if (batches.isEmpty) 0.0 else batches.map(_.stateBytes).max / MB
    v("codegen.compiles") = codegen.compiles / n
    v("codegen.compile_s") = codegen.compileNs / 1e9 / n
    v("trace.overhead_ratio") = overhead
    All.map { case (name, unit, _) => name -> Metric(v(name), unit) }
  }

  /** Every span of the traced loop, as JSON lines of
    * (id, parent, name, start and end in ms from the first span). */
  def writeSpans(dir: File, workload: String, seed: Long, spans: Seq[Trace.Span]): File = {
    dir.mkdirs()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    def ms(ns: Long) = "%.3f".formatLocal(java.util.Locale.ROOT, (ns - t0) / 1e6)
    val body = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${ms(s.startNs)}, "end_ms": ${ms(s.endNs)}}"""
    }.mkString("", "\n", "\n")
    val f = new File(dir, s"$workload-s$seed.jsonl")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    f
  }
}
