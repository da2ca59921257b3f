package perfbench

import graft.etl.{JsonEtl, Pipeline, Sinks}
import graft.ops.{Fsck, Layout, Maintenance}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The pyetl loop, write-heavy. A pass lands the next day batch of JSON
  * lines into one growing lake: the config-driven pipeline routes it to
  * rolled parquet and JSON sinks (quarantining violations), the day is
  * upserted into a keyed snapshot, folded into two durable aggregate states
  * and streamed into a third, and the landed table's skip manifest is
  * rewritten. After the batches comes the nightly part (the finishing
  * step): fsck, maintenance, and a read-back of the landed day partitions.
  * The warm-up lands day 0 and runs the nightly part once.
  */
object EtlLanding extends Workload {

  private def days(ctx: Ctx) = ctx.expected.get("days").elements().asScala.toIndexedSeq

  // day 0 is the smaller warm-up batch
  def items(ctx: Ctx): Long = days(ctx)(1).get("records").asLong

  // a day batch is short, so a run measures two; each one more adds about
  // 6 s to every run on a 4-vCPU host
  override def minPasses: Int = 2

  override def maxPasses(ctx: Ctx): Int = days(ctx).size

  private def config(dayFile: String, root: String, day: Int): String =
    s"""{
      "input": {"path": "$dayFile", "format": "json"},
      "baseDir": "$root/landed",
      "jsonCol": "props",
      "jsonPaths": {"$$.k": "k", "$$.ref": "ref"},
      "tsSecExpr": "CAST(ts AS BIGINT)",
      "maxRecordsPerFile": 5000,
      "dropFields": ["debug", "_corrupt_record"],
      "redact": ["email"],
      "casts": {"k": "int"},
      "validations": {
        "missing_id": "event_id IS NULL",
        "bad_value": "value IS NULL OR value < 0",
        "no_type": "event_type IS NULL",
        "no_ts": "ts IS NULL"},
      "onViolation": "quarantine",
      "quarantineDir": "$root/quarantine/$day",
      "routes": {
        "events": {"predicate": "event_type <> 'purchase'"},
        "purchases": {"predicate": "event_type = 'purchase'", "format": "json"}}
    }"""

  private def root(ctx: Ctx) = s"${ctx.work}/etl"

  def pass(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val root = this.root(ctx)
    val events = s"$root/landed/events"
    val d = days(ctx)(i)
    deleteTree(s"$root/snapshot/${i - 2}")
    val counts = ctx.span("pipeline", "runConfig") {
      Pipeline.runConfig(spark, config(d.get("path").asText, root, i))
    }
    ctx.check("pipeline", "route_counts",
      counts.get("events").contains(d.get("events").asLong) &&
        counts.get("purchases").contains(d.get("purchases").asLong) &&
        counts.get("__quarantined").contains(d.get("quarantined").asLong) &&
        counts.values.sum == d.get("records").asLong,
      s"day $i: got $counts, expected $d")
    val landed = spark.read.parquet(events)
    val delta = landed.where(col("day") === d.get("day").asText)
      .select(col("user.id").as("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("value"), col("k"))
    ctx.span("sinks", "mergeSnapshot") {
      val prev = if (i == 0) delta.limit(0) else spark.read.parquet(s"$root/snapshot/${i - 1}")
      Sinks.mergeSnapshot(prev, delta, "user_id", "ts").write.parquet(s"$root/snapshot/$i")
    }
    ctx.span("jsonetl", "aggUpsertAtN") {
      JsonEtl.aggUpsertAtN(spark, s"$root/agg_state", delta, i + 1L,
        Seq("user_id", "event_type"), Seq("value", "k"))
    }
    ctx.span("jsonetl", "quantileUpsertAt") {
      JsonEtl.quantileUpsertAt(spark, s"$root/quantile_state", delta, i + 1L)
    }
    ctx.span("streams", "aggIngestSink") {
      // the public sink starts with the default trigger; draining what is
      // available and stopping is the available-now run of the stream
      val stream = spark.readStream.schema(landed.schema).parquet(events)
        .select(col("user.id").as("user_id"), col("event_type"), col("value"))
      val q = Streams.aggIngestSink(stream, s"$root/stream_state", s"$root/stream_checkpoint")
      try q.processAllAvailable() finally q.stop()
    }
    ctx.span("layout", "writeManifest") {
      Layout.writeManifest(spark, events, Seq("ts", "event_id"))
    }
    val snap = spark.read.parquet(s"$root/snapshot/$i")
      .select("user_id", "ts", "event_id").collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}")
    ctx.check("sinks", "snapshot_latest_per_key",
      Digest.ofLines(snap.toSeq) == d.get("snapshot_sha256").asText,
      s"${snap.length} snapshot rows, expected ${d.get("snapshot_keys").asLong}")
  }

  /** The nightly part over everything landed so far, then the checks of
    * the states the batches built.
    */
  override def finish(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val root = this.root(ctx)
    val events = s"$root/landed/events"
    val aggState = s"$root/agg_state"
    val streamState = s"$root/stream_state"
    val fsck = ctx.span("fsck", "runAll") {
      Fsck.runAll(spark, Seq("agg_state" -> aggState, "agg_state" -> streamState,
        "skip_manifest" -> events)).collect()
    }
    val statusAt = fsck.head.fieldIndex("status")
    ctx.check("fsck", "no_fail_rows", fsck.forall(_.getString(statusAt) != "fail"),
      fsck.filter(_.getString(statusAt) == "fail").mkString("; "))
    ctx.span("maintenance", "runAll") {
      Maintenance.runAll(spark, Seq(Maintenance.Target("skip_manifest", events))).collect()
    }
    val landedDays = days(ctx).take(i + 1).map(_.get("day").asText)
    val (evRows, purchRows) = ctx.span("readback", "landedDays") {
      (spark.read.parquet(events).where(col("day").isin(landedDays: _*)).count(),
        spark.read.json(s"$root/landed/purchases").where(col("day").isin(landedDays: _*))
          .count())
    }
    val exp = days(ctx)(i)
    val total = exp.get("events_total").asLong
    val purchases = exp.get("purchases_total").asLong
    ctx.check("pipeline", "readback_counts", evRows == total && purchRows == purchases,
      s"read back $evRows events / $purchRows purchases, expected $total / $purchases")
    checkLake(ctx, root, i)
    val landedBytes = Seq("landed", s"snapshot/$i", "agg_state", "quantile_state",
      "stream_state", "quarantine").map(p => treeBytes(s"$root/$p")).sum
    ctx.gauge("sinks.landed_bytes_per_input_byte",
      landedBytes.toDouble / days(ctx)(i).get("bytes_total").asDouble)
    val files = dataFiles(s"$root/landed")
    ctx.gauge("sinks.mean_file_mb",
      files.map(_.length).sum.toDouble / math.max(1, files.size) / (1024 * 1024))
  }

  /** Output checks of the lake after day `i`, against the generator's own
    * bookkeeping: the states are cumulative over the days landed so far, so
    * a wrong fold in any batch shows here.
    */
  private def checkLake(ctx: Ctx, root: String, i: Int): Unit = {
    val spark = ctx.spark
    val exp = days(ctx)(i)
    val total = exp.get("events_total").asLong
    val emails = spark.read.parquet(s"$root/landed/events")
      .where(col("email").contains("@")).count()
    ctx.check("pipeline", "pii_redacted", emails == 0, s"$emails rows keep an email address")
    val agg = spark.read.parquet(s"$root/agg_state")
      .agg(sum("n_events"), sum("sum_value")).head()
    ctx.check("jsonetl", "agg_state_totals",
      agg.getLong(0) == total &&
        agg.getDecimal(1).compareTo(new java.math.BigDecimal(exp.get("events_value_sum").asText)) == 0,
      s"state holds ${agg.getLong(0)} events summing ${agg.getDecimal(1)}, expected " +
        s"$total summing ${exp.get("events_value_sum").asText}")
    val q = spark.read.parquet(s"$root/quantile_state").agg(sum("n_rows")).head().getLong(0)
    ctx.check("jsonetl", "quantile_state_rows", q == total, s"$q rows sketched, expected $total")
    val st = spark.read.parquet(s"$root/stream_state").agg(sum("n_events")).head().getLong(0)
    ctx.check("streams", "stream_state_rows", st == total, s"$st rows folded, expected $total")
  }

  /** A file or directory and everything under it, parents first. */
  private def tree(f: java.io.File): Seq[java.io.File] =
    f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)

  private def treeBytes(path: String): Long =
    tree(new java.io.File(path)).filter(_.isFile).map(_.length).sum

  private def deleteTree(path: String): Unit =
    tree(new java.io.File(path)).reverse.foreach(_.delete())

  /** Parquet and JSON data files under `path`, not under `_` or `.` dirs. */
  private def dataFiles(path: String): Seq[java.io.File] = {
    val base = new java.io.File(path).toPath
    tree(base.toFile).filter { f =>
      val n = f.getName
      f.isFile && (n.endsWith(".parquet") || n.endsWith(".json")) &&
        !base.relativize(f.toPath).toString.split('/')
          .exists(p => p.startsWith("_") || p.startsWith("."))
    }
  }
}
