package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The graft modules the benchmark attributes cost to. */
object Layers {
  val all: Seq[String] = Seq("pipeline", "sinks", "jsonetl", "streams", "fsck",
    "maintenance", "relational", "layout", "textanalysis", "dedup", "curation",
    "similarity")
}

/** What a workload sees: the session, its inputs and expectations, and the
  * span/check recorder of the current pass.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val input: String,
    val work: String, val expected: JsonNode) {
  private var nextId = 0
  private var lastFailure: Throwable = null
  private val stack = ArrayBuffer[Int]()
  val spans = ArrayBuffer[Span]()
  var traced = false
  // set when a check of the current pass fails; the pass is then left out
  // of run_s and its call samples
  var passFailed = false
  var attempted = 0L
  var failed = 0L
  val failedOps = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  val failures = ArrayBuffer[String]()
  // values a workload reports beside the timings (ratios, recall, bytes)
  val gauges = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()

  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, ArrayBuffer[Double]()) += v

  /** Run `body` as a span. Spans of a layer in [[Layers.all]] are calls
    * into graft: the latency samples and the per-layer costs are made of
    * them. Every span but the pass's own ("client") is an attempted
    * operation; an exception is a failed one and is rethrown to end the pass.
    */
  def span[A](layer: String, name: String)(body: => A): A = {
    nextId += 1
    val s = Span(nextId, name, layer, stack.lastOption.getOrElse(0),
      System.currentTimeMillis())
    spans += s
    stack += s.id
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(Tracer.GroupPrefix + s.id, s"$layer.$name")
    if (layer != "client") attempted += 1
    try body
    catch {
      case e: Throwable =>
        s.failed = true
        // counted once, by the innermost span it passes through
        if (!(lastFailure eq e)) {
          lastFailure = e
          failed += 1
          failedOps(layer) += 1
          failures += s"$layer.$name threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
        }
        throw e
    } finally {
      s.endMs = System.currentTimeMillis()
      stack.remove(stack.size - 1)
      if (traced) {
        stack.lastOption.flatMap(p => spans.find(_.id == p)) match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, s"${p.layer}.${p.name}")
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** One output check; a failed check counts as a failed operation of the
    * layer whose output it inspects, marks that layer's latest call of the
    * pass failed (so it is no latency sample) and fails the pass.
    */
  def check(layer: String, name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failedOps(layer) += 1
      failures += s"check $layer.$name failed: $detail"
      passFailed = true
      spans.findLast(_.layer == layer).foreach(_.failed = true)
    }
  }

  def resetSpans(): Unit = { spans.clear(); stack.clear(); passFailed = false }
}

/** A workload: one-time layout in setup, then repeated passes, then a
  * finishing step that runs once after them.
  */
trait Workload {
  /** Source items one pass pushes through (records, queries, documents). */
  def items(ctx: Ctx): Long
  def setup(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, index: Int): Unit
  /** Work that follows the passes (the nightly part of a landing loop);
    * `lastPass` is the index of the last pass before it.
    */
  def finish(ctx: Ctx, lastPass: Int): Unit = ()
  /** Measured passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Passes the inputs allow, warm-up included. */
  def maxPasses(ctx: Ctx): Int = Int.MaxValue
}
