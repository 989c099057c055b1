package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one closed loop.
  *
  * {{{
  * perfbench.Main --workload <cpi_etl|llm_dedup|stream_ingest> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>
  * perfbench.Main --selftest --work <dir>
  * }}}
  *
  * Prints a human-readable table, then as its last stdout line one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer ones with
  * `--trace 1`. A detailed sidecar (and, traced, every span) is written
  * under `--work`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, selftest: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val selftest = argv.contains("--selftest")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val work = new File(need("--work")).getAbsoluteFile
    if (selftest) Args("", 0L, 0, trace = false, work, selftest = true)
    else {
      val w = need("--workload")
      require(Workload.Names.contains(w), s"--workload must be one of ${Workload.Names.mkString(", ")}")
      val secs = need("--seconds").toInt
      require(secs >= 1, "--seconds must be >= 1")
      Args(w, need("--seed").toLong, secs, need("--trace") == "1", work, selftest = false)
    }
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        if (a.selftest) SelfTest.run(a.work) else Bench.run(a)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the exit code is the verdict.
    Runtime.getRuntime.halt(code)
  }
}

object Session {
  def start(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Room for every generated class a workload's plans need: at the
      // default 100 entries the wide unions evict each other and each
      // iteration would time Janino recompiling them (the compile churn
      // itself is reported per layer as codegen.*).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Spark keeps the history of finished jobs and queries for its UI
      // even with the UI off; capped, it fills during the warm-up and the
      // retained heap then measures the pipeline, not that history.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Counts and timings of one closed loop. */
final class LoopStats {
  val times = mutable.ArrayBuffer.empty[Double]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val stats = mutable.ArrayBuffer.empty[Map[String, Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  def add(o: LoopStats): Unit = {
    times ++= o.times; heapMb ++= o.heapMb; stats ++= o.stats; failures ++= o.failures
    attempted += o.attempted; failed += o.failed
  }
}

object Loop {
  /** Runs one iteration: `run` is timed (inside the root span), then the
    * outputs are read and checked untimed. A failed operation or check
    * counts in `failed` and its time is never a sample. */
  def once(spark: SparkSession, w: Workload, work: File, st: LoopStats)(
      corrupt: w.Res => w.Res): Double = {
    st.attempted += 1
    val t0 = System.nanoTime()
    val raw = try Right(Trace.span(Trace.Root)(w.run(spark, work)))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = raw match {
      case Left(e) => Verdict(Seq(s"operation failed: $e"))
      case Right(r) =>
        try w.check(corrupt(w.read(spark, r)))
        catch { case e: Exception => Verdict(Seq(s"output unreadable: $e")) }
    }
    if (verdict.ok) st.times += secs
    else { st.failed += 1; st.failures ++= verdict.failures }
    st.stats += verdict.stats
    // Release this iteration's checkpoint blocks so the next one starts
    // from the same state, then measure what the driver still holds.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    st.heapMb += Jvm.retainedHeapMb()
    Bench.log(f"iteration $secs%.2f s, checked ${if (verdict.ok) "ok" else "FAILED"}")
    secs
  }

  /** Closed loop: iterations back to back until `seconds` have passed
    * and at least `minIters` were attempted. */
  def run(spark: SparkSession, w: Workload, work: File, seconds: Double, minIters: Int,
      maxIters: Int = 1000)(corrupt: w.Res => w.Res): LoopStats = {
    val st = new LoopStats
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || st.attempted < minIters) && st.attempted < maxIters)
      once(spark, w, work, st)(corrupt)
    st
  }
}

object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def usedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  /** Driver heap still live after a full collection. Spark's
    * ContextCleaner frees broadcast and shuffle state only after a GC
    * has cleared the references to it, so collect, give the cleaner a
    * moment, and collect again. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    usedMb
  }
}

object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** A reported metric: value, unit, and (for the table) a note. */
final case class Metric(value: Double, unit: String, note: String = "")

object Bench {
  val SetupRepeats = 3
  val MinIters = 2

  /** Constant-work probe (pure codegen'd arithmetic, no I/O): its time
    * only moves with the CPU this JVM is granted, so a slow run with a
    * slow probe is a starved host, not a slower program. Not gated. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private val T0 = System.nanoTime()
  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println("[perfbench +%.1fs] %s".formatLocal(java.util.Locale.ROOT,
      (System.nanoTime() - T0) / 1e9, msg))

  def run(a: Main.Args): Int = {
    val work = new File(a.work, a.workload)
    ParquetOut.deleteTree(work.toPath)
    work.mkdirs()
    val batches = new BatchLog
    def newSession(): SparkSession = {
      val s = Session.start(work)
      s.streams.addListener(batches)
      s
    }
    var spark = newSession()
    log("session started")
    val tg = System.nanoTime()
    val w = Workload.generate(a.workload, spark, new File(work, "data"), a.seed, Sizes.Full)
    val genSecs = (System.nanoTime() - tg) / 1e9
    val inputDigest = ParquetOut.digest(w.inputs.dir)
    log("inputs generated")
    calibrate(spark)
    val calBefore = calibrate(spark)

    // Set-up: a fresh session that has touched every input table, done
    // several times (median), plus the first, untimed warm-up iteration
    // in the last of those sessions. The warm-up is checked and counted
    // like any other iteration but is never a timed sample.
    val starts = (1 to (if (a.trace) 1 else SetupRepeats)).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      Workload.inputTables(w.inputs.dir).foreach(t => spark.read.parquet(t.getPath).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = new LoopStats
    val warmSecs = Loop.once(spark, w, work, warm)(identity)
    val setupSecs = Stats.median(starts) + warmSecs
    log(f"set-up $setupSecs%.2f s")
    // One more untimed iteration: the second in a session still runs
    // ~20% slower than the ones after it (JIT and session caches).
    val settleSecs = Loop.once(spark, w, work, warm)(identity)
    batches.clear()
    // Counts cover every iteration; samples only the timed loop's.
    val st = new LoopStats
    st.add(warm)

    val out = mutable.LinkedHashMap.empty[String, Metric]
    val table = mutable.ArrayBuffer.empty[(String, Metric)]
    var traceFile: Option[File] = None
    if (!a.trace) {
      val timed = Loop.run(spark, w, work, a.seconds, MinIters)(identity)
      st.add(timed)
      val n = timed.times.size
      out("setup_s") = Metric(setupSecs, "s",
        f"median of ${starts.size} session starts ${Stats.median(starts)}%.3f + warm-up $warmSecs%.3f")
      out("iter_s.p50") = Metric(Stats.median(timed.times), "s", s"n=$n")
      out("rows_per_s") = Metric(if (n == 0) 0.0 else w.inputs.inputRows * n / timed.times.sum,
        "1/s", s"${w.inputs.inputRows} input rows per iteration")
      out("heap_retained_mb") = Metric(Stats.median(timed.heapMb), "MB",
        s"n=${timed.heapMb.size}")
      table ++= out
      val bs = batches.snapshot.map(_.durationMs / 1000.0)
      if (bs.nonEmpty) {
        table += "batch_s.p50" -> Metric(Stats.quantile(bs, 0.5), "s", s"n=${bs.size}")
        table += "batch_s.p95" -> Metric(Stats.quantile(bs, 0.95), "s", s"n=${bs.size}")
      }
      table += "failed_ratio" -> Metric(st.failed.toDouble / math.max(1, st.attempted), "ratio",
        s"${st.failed} of ${st.attempted} iterations, warm-ups included")
      st.stats.flatMap(_.keys).distinct.sorted.foreach { k =>
        table += k -> Metric(st.stats.flatMap(_.get(k)).min, "ratio",
          "lowest over the run")
      }
    } else {
      // Plain and traced iterations alternate, so the tracing overhead
      // is measured against iterations run in the same state.
      val plain = new LoopStats
      val traced = new LoopStats
      val listener = new EngineListener
      val tracedBatches = mutable.ArrayBuffer.empty[StreamBatch]
      var codegen = Codegen.Delta(0L, 0L)
      Jvm.resetPeaks()
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      while (System.nanoTime() < deadline || traced.attempted < 2) {
        Loop.once(spark, w, work, plain)(identity)
        spark.sparkContext.addSparkListener(listener)
        Trace.start(spark)
        val b0 = batches.snapshot.size
        val (_, d) = Codegen.during(Loop.once(spark, w, work, traced)(identity))
        Trace.stop()
        drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
        tracedBatches ++= batches.snapshot.drop(b0)
        codegen += d
      }
      st.add(plain)
      st.add(traced)
      val layers = Layers.compute(Trace.recorded, listener, tracedBatches.toSeq, codegen,
        traced.attempted, Jvm.peakHeapMb(),
        Stats.median(traced.times) / Stats.median(plain.times))
      out ++= layers
      table ++= layers.filter(_._2.value != 0.0)
      table += "trace.untraced_iter_s.p50" -> Metric(Stats.median(plain.times), "s",
        s"n=${plain.times.size}")
      table += "trace.traced_iter_s.p50" -> Metric(Stats.median(traced.times), "s",
        s"n=${traced.times.size}")
      traceFile = Some(Layers.writeSpans(new File(a.work, "traces"), a.workload, a.seed,
        Trace.recorded))
      table += "trace.uncovered_s" -> Metric(layers.toMap.apply("bench.iteration.self_s").value, "s",
        "root-span self time: iteration wall time no span covers")
    }
    log("loop done")
    val calAfter = calibrate(spark)
    table += "cal_s" -> Metric(Stats.median(Seq(calBefore, calAfter)), "s",
      f"constant-work probe, before $calBefore%.3f after $calAfter%.3f (not gated)")
    table += "settle_s" -> Metric(settleSecs, "s", "second warm-up iteration (not timed)")
    table += "gen_s" -> Metric(genSecs, "s", "input generation (not timed)")
    spark.stop()
    log("session stopped")

    val mode = if (a.trace) "traced" else "untraced"
    println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} $mode")
    println(s"  inputs: ${w.inputs.describe}")
    println(s"  input sha256: $inputDigest")
    traceFile.foreach(f => println(s"  spans: ${f.getPath}"))
    table.foreach { case (k, m) =>
      println(f"  $k%-58s ${fmt(m.value)}%14s ${m.unit}%-6s ${m.note}")
    }
    st.failures.distinct.take(10).foreach(f => println(s"  FAILED CHECK: $f"))
    val result = resultJson(st, out.toSeq)
    writeSidecar(new File(a.work, "results"), a, inputDigest, w.inputs.describe, table.toSeq, st)
    println(result)
    0
  }

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def resultJson(st: LoopStats, metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${st.failed == 0}, "attempted": ${st.attempted}, "failed": ${st.failed}, "metrics": {$ms}}"""
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def writeSidecar(dir: File, a: Main.Args, digest: String, desc: String,
      table: Seq[(String, Metric)], st: LoopStats): Unit = {
    dir.mkdirs()
    val rows = table.map { case (k, m) =>
      s"""    "${esc(k)}": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}", "note": "${esc(m.note)}"}"""
    }.mkString(",\n")
    val json =
      s"""{
         |  "workload": "${a.workload}", "seed": ${a.seed}, "seconds": ${a.seconds}, "trace": ${a.trace},
         |  "cpus": ${Runtime.getRuntime.availableProcessors()},
         |  "inputs": "${esc(desc)}", "input_sha256": "$digest",
         |  "attempted": ${st.attempted}, "failed": ${st.failed},
         |  "failures": [${st.failures.distinct.map(f => "\"" + esc(f) + "\"").mkString(", ")}],
         |  "metrics": {
         |$rows
         |  }
         |}
         |""".stripMargin
    Files.write(new File(dir, s"${a.workload}-s${a.seed}-trace${if (a.trace) 1 else 0}.json").toPath,
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** Waits until every posted listener event has been delivered. The bus
    * is not part of Spark's public Scala surface, hence reflection; a
    * short sleep is the fallback. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(500) }
}
