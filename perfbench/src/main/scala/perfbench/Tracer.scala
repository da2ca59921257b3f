package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into a layer (or a grouping span such as a pass or a day
  * batch). Times are wall-clock milliseconds.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Long, var endMs: Long = -1L, var failed: Boolean = false) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spark-side cost of one traced pass, attributed to the pass's spans.
  *
  * The listener records jobs, task metrics and RDD block updates while it is
  * registered. A job belongs to the span named by its job group when that
  * group is one of ours, otherwise to the innermost span whose interval
  * holds the job's submission time: the client is one thread, so calls do
  * not overlap, and the fallback keeps attribution right even when graft
  * sets job groups of its own.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private final class Job(val id: Int, val startMs: Long, val group: String) {
    @volatile var endMs: Long = -1L
  }
  private final class StageCost {
    var tasks, cpuNs, shuffleBytes, spillBytes, records = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageCost]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  // (time, cached bytes after the update), appended on the bus thread only
  private val cachedSamples = ArrayBuffer[(Long, Long)]()
  @volatile private var cachedNow = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    jobs.put(e.jobId, new Job(e.jobId, e.time, group))
    e.stageIds.foreach(st => stageJob.put(st, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stages.computeIfAbsent(e.stageId, _ => new StageCost)
    c.synchronized {
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.records += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(blocks.put(info.blockId.name, size)).getOrElse(0L)
      cachedNow += size - before
      cachedSamples += ((System.currentTimeMillis(), cachedNow))
    }
  }

  /** Per-span cost of the spans given, from everything recorded so far;
    * then forget the recorded jobs and stages (cached blocks persist).
    */
  def attribute(spans: Seq[Span]): Map[Int, SpanCost] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def owner(j: Job): Option[Span] =
      Option(j.group).filter(_.startsWith(GroupPrefix))
        .flatMap(g => g.stripPrefix(GroupPrefix).toIntOption).flatMap(byId.get)
        .orElse(spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => (-s.startMs, -s.id)).headOption)
    val allJobs = jobs.values().asScala.toSeq
    val jobSpan = allJobs.flatMap(j => owner(j).map(s => j.id -> s.id)).toMap
    val costs = spans.map(s => s.id -> new SpanCost).toMap
    allJobs.foreach { j =>
      jobSpan.get(j.id).foreach { sid =>
        val c = costs(sid)
        c.jobs += 1
        c.jobIntervals += ((j.startMs, if (j.endMs < 0) byId(sid).endMs else j.endMs))
      }
    }
    stages.asScala.foreach { case (st, sc) =>
      Option(stageJob.get(st)).flatMap(jobSpan.get).foreach { sid =>
        val c = costs(sid)
        c.tasks += sc.tasks; c.cpuNs += sc.cpuNs; c.shuffleBytes += sc.shuffleBytes
        c.spillBytes += sc.spillBytes; c.records += sc.records
      }
    }
    val samples = cachedSamples.toIndexedSeq
    spans.foreach { s =>
      val atStart = samples.takeWhile(_._1 <= s.startMs).lastOption.map(_._2).getOrElse(0L)
      val within = samples.filter(x => x._1 > s.startMs && x._1 <= s.endMs).map(_._2)
      costs(s.id).peakCachedBytes = (atStart +: within).max
    }
    jobs.clear(); stageJob.clear(); stages.clear()
    cachedSamples.clear(); cachedSamples += ((System.currentTimeMillis(), cachedNow))
    costs
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"

  final class SpanCost {
    var jobs, tasks, cpuNs, shuffleBytes, spillBytes, records = 0L
    var peakCachedBytes = 0L
    val jobIntervals = ArrayBuffer[(Long, Long)]()

    /** Wall time inside `s` during which none of the span's jobs ran. */
    def driverGapS(s: Span): Double = {
      val clipped = jobIntervals.map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      math.max(0L, (s.endMs - s.startMs) - busy) / 1000.0
    }
  }
}
