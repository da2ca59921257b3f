package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM: one `local[n]` session and one client thread.
  *
  * Usage (normally through run.py, which builds, generates the inputs and
  * composes the result line):
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --input DIR --work DIR --expected FILE --out FILE
  * }}}
  * Set-up is session start, layout and one warm-up pass plus the
  * workload's finishing step. Measured passes then repeat until `--seconds`
  * have passed and the workload's minimum is met, and the finishing step
  * runs once more; `run_s` is the median measured pass plus that step.
  * With `--trace 1` the passes alternate untraced and traced (U T U ...,
  * at least three), so the tracing overhead is measured in the same
  * process; the per-layer costs come from the traced passes and the traced
  * finishing step.
  */
object Main {

  final case class PassResult(index: Int, traced: Boolean, ok: Boolean,
      wallS: Double, calls: Seq[Double], layers: Map[String, Map[String, Double]],
      recordsByCall: Map[String, Double], spans: Seq[Span])

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opts("workload") match {
      case "etl_landing" => EtlLanding
      case "lake_queries" => LakeQueries
      case "corpus_curation" => CorpusCuration
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        // day batches land their own partitions and leave earlier days alone
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic"), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val ctx = new Ctx(spark, opts("seed").toLong, opts("input"), work,
      new ObjectMapper().readTree(new File(opts("expected"))))
    val tracer = new Tracer
    val runId = f"${opts("workload")}-s${opts("seed")}-${System.currentTimeMillis()}%d"

    def runPass(i: Int, traced: Boolean, name: String = "pass")(body: => Unit): PassResult = {
      ctx.resetSpans()
      ctx.traced = traced
      val sc = spark.sparkContext
      if (traced) sc.addSparkListener(tracer)
      val ok = try { ctx.span("client", s"$name-$i")(body); !ctx.passFailed }
        catch { case NonFatal(_) => false }
      sc.clearJobGroup()
      val spans = ctx.spans.toList
      val calls = spans.filter(s => s.layer != "client")
      val costs =
        if (!traced) Map.empty[Int, Tracer.SpanCost]
        else {
          ListenerBusDrain(sc)
          sc.removeSparkListener(tracer)
          tracer.attribute(spans)
        }
      PassResult(i, traced, ok, calls.map(_.wallS).sum,
        calls.filter(s => Layers.all.contains(s.layer) && !s.failed).map(_.wallS),
        if (traced) layerCosts(spans, costs) else Map.empty,
        if (traced) calls.groupBy(_.name).map { case (n, ss) =>
          n -> ss.map(s => costs(s.id).records.toDouble).sum } else Map.empty,
        spans)
    }

    val t0 = System.nanoTime()
    workload.setup(ctx)
    val layoutS = (System.nanoTime() - t0) / 1e9
    val warm = Seq(runPass(0, traced = false)(workload.pass(ctx, 0)),
      runPass(0, traced = false, "finish")(workload.finish(ctx, 0)))
    val passes = ArrayBuffer[PassResult]()
    val m0 = System.nanoTime()
    // `--seconds 0` stops after the warm-up (the build's class-data run).
    // Traced runs alternate untraced and traced passes and end on an
    // untraced one, so every traced pass sits between two untraced ones.
    val minPasses = if (seconds <= 0) 0 else if (trace) 3 else workload.minPasses
    def more = (System.nanoTime() - m0) / 1e9 < seconds || passes.size < minPasses ||
      (trace && passes.size % 2 == 0 && passes.nonEmpty)
    while (passes.size + 1 < workload.maxPasses(ctx) && more) {
      val i = passes.size + 1
      passes += runPass(i, traced = trace && i % 2 == 0)(workload.pass(ctx, i))
    }
    val finish = if (seconds <= 0) None
      else Some(runPass(passes.size, traced = trace, "finish")(workload.finish(ctx, passes.size)))

    val timed = passes.filter(p => p.ok && !p.traced)
    val finishTimed = finish.filter(f => f.ok && !f.traced)
    val runS = median(timed.map(_.wallS)) + finishTimed.map(_.wallS).sum
    val calls = timed.flatMap(_.calls) ++ finishTimed.toSeq.flatMap(_.calls)
    val out = new ObjectMapper().createObjectNode()
    out.put("correct", ctx.failed == 0 && (warm ++ passes ++ finish).forall(_.ok))
    out.put("attempted", ctx.attempted)
    out.put("failed", ctx.failed)
    val e2e = out.putObject("end_to_end")
    e2e.put("session_s", sessionS)
    e2e.put("layout_s", layoutS)
    e2e.put("warmup_s", warm.map(_.wallS).sum)
    e2e.put("run_s", runS)
    e2e.put("items_per_s", if (runS > 0) workload.items(ctx) / runS else 0.0)
    e2e.put("call_p50_s", quantile(calls, 0.5))
    e2e.put("call_p90_s", quantile(calls, 0.9))
    e2e.put("call_samples", calls.size)
    e2e.put("passes", passes.size)
    e2e.put("peak_rss_mb", peakRssMb())
    val layer = out.putObject("per_layer")
    val tracedPasses = passes.filter(_.traced)
    val tracedFinish = finish.filter(_.traced)
    def cost(p: PassResult, l: String, m: String) =
      p.layers.getOrElse(l, Map.empty).getOrElse(m, 0.0)
    for (l <- Layers.all; m <- LayerMetrics) {
      val v = median(tracedPasses.map(cost(_, l, m))) + tracedFinish.map(cost(_, l, m)).sum
      layer.put(s"$l.$m", if (m == "failed_ops") ctx.failedOps(l).toDouble else v)
    }
    ctx.gauges.foreach { case (k, vs) => layer.put(k, median(vs.toSeq)) }
    // rows the ANN call read (scans and shuffles) per result row it returned
    ctx.gauges.get("similarity.ann_results").foreach { rs =>
      layer.remove("similarity.ann_results")
      layer.put("similarity.rows_scored_per_result", median(tracedPasses.map(p =>
        p.recordsByCall.getOrElse(CorpusCuration.AnnCall, 0.0))) / median(rs.toSeq))
    }
    // a traced pass minus the mean of its untraced neighbours, which
    // cancels drift that is linear over the three (JIT, a growing lake)
    val overheads = passes.indices.filter(k => passes(k).traced && k + 1 < passes.size)
      .map(k => passes(k).wallS - (passes(k - 1).wallS + passes(k + 1).wallS) / 2)
    if (overheads.nonEmpty) layer.put("trace.overhead_s", median(overheads))
    layer.put("failed_ops_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted))
    val meta = out.putObject("meta")
    meta.put("run_id", runId)
    meta.put("master", spark.sparkContext.master)
    meta.put("spark_version", spark.version)
    meta.put("jdk", System.getProperty("java.version"))
    meta.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    meta.put("items_per_pass", workload.items(ctx))
    val passS = meta.putArray("pass_s")
    passes.foreach(p => passS.add(p.wallS))
    finish.foreach(f => meta.put("finish_s", f.wallS))
    val fails = meta.putArray("failures")
    ctx.failures.take(50).foreach(f => fails.add(f))
    if (trace) {
      val path = s"$work/spans-$runId.jsonl"
      writeSpans(path, runId, (tracedPasses ++ tracedFinish).toSeq)
      meta.put("spans_file", path)
    }
    Files.write(Paths.get(opts("out")), out.toString.getBytes("UTF-8"))
    spark.stop()
  }

  val LayerMetrics: Seq[String] = Seq("wall_s", "self_s", "jobs", "tasks",
    "task_cpu_s", "driver_gap_s", "shuffle_mb", "spill_mb", "cached_mb", "failed_ops")

  private def layerCosts(spans: Seq[Span], costs: Map[Int, Tracer.SpanCost])
      : Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    spans.filter(s => Layers.all.contains(s.layer)).groupBy(_.layer).map { case (l, ss) =>
      val cs = ss.map(s => s -> costs(s.id))
      val mb = 1024.0 * 1024.0
      l -> Map(
        "wall_s" -> ss.map(_.wallS).sum,
        "self_s" -> ss.map(s => s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum).sum,
        "jobs" -> cs.map(_._2.jobs).sum.toDouble,
        "tasks" -> cs.map(_._2.tasks).sum.toDouble,
        "task_cpu_s" -> cs.map(_._2.cpuNs).sum / 1e9,
        "driver_gap_s" -> cs.map { case (s, c) => c.driverGapS(s) }.sum,
        "shuffle_mb" -> cs.map(_._2.shuffleBytes).sum / mb,
        "spill_mb" -> cs.map(_._2.spillBytes).sum / mb,
        "cached_mb" -> cs.map(_._2.peakCachedBytes).max / mb)
    }
  }

  private def writeSpans(path: String, runId: String, passes: Seq[PassResult]): Unit = {
    val om = new ObjectMapper()
    val lines = passes.flatMap(p => p.spans.map { s =>
      val n = om.createObjectNode()
      n.put("run_id", runId); n.put("pass", p.index); n.put("id", s.id)
      n.put("parent", s.parent); n.put("name", s.name); n.put("layer", s.layer)
      n.put("start_ms", s.startMs); n.put("end_ms", s.endMs); n.put("failed", s.failed)
      n.toString
    })
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted.toIndexedSeq
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  private def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) 0.0
    else scala.io.Source.fromFile(status).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
