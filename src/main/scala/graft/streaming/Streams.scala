package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY §2.F) — pyetl's continuous loop
  * (consume → parse → window/sessionize → fan out) as declarative streams.
  *
  * These are DataFrame→DataFrame stream transforms: callers plug any
  * streaming source in (Kafka at 100 TB/day, MemoryStream in StreamingSpec,
  * file source for replay). Watermarks bound state so a 1000-executor job
  * neither OOMs on late data nor keeps windows forever.
  */
// Serializable: the stateful closures (sessionize's update fn, the
// SessionProcessor) call the shared foldEvents, which makes the compiled
// lambda capture this module — the module is stateless, so shipping it is
// free, but without the marker the task serializer rejects the closure.
object Streams extends Serializable {

  /** One parsed event (the post-JSON-parse shape of the pyetl stream). */
  case class Event(ts: Timestamp, userId: Long, eventType: String, value: Double)

  /** A closed user session emitted by [[sessionize]]. */
  case class Session(userId: Long, startSec: Long, endSec: Long, nEvents: Long, sumValue: Double)

  /** Live-session state kept per user by [[sessionize]]. */
  case class SessState(startSec: Long, endSec: Long, n: Long, sum: Double)

  /** Message-bus source seam (pyetl consumed from a stream transport).
    * `format("kafka")` is the standard Spark connector contract — this
    * compiles against spark-sql alone, and runs wherever the
    * spark-sql-kafka connector jar is deployed (THIS build ships none:
    * offline resolver). The returned frame has the connector's fixed
    * schema (key/value binary, topic, partition, offset, timestamp);
    * downstream every Streams operator takes it after a `value` parse —
    * the seam is exactly pyetl's "consume JSON from the bus" step.
    */
  def kafkaSource(s: org.apache.spark.sql.SparkSession, servers: String,
      topic: String, startingOffsets: String = "latest"): DataFrame =
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Present any frame carrying a string `value` column (batch, or a
    * MemoryStream/file stream in tests) under the EXACT output schema of
    * the Kafka connector — key/value binary, topic, partition, offset,
    * timestamp — so everything downstream of [[kafkaSource]] is
    * exercisable end-to-end without the connector jar (which the offline
    * resolver cannot ship). Deploy-time, `kafkaSource` replaces this
    * frame and nothing downstream changes: that is the point of the
    * contract.
    */
  def busFrom(df: DataFrame, topic: String): DataFrame =
    df.select(
      lit(null).cast("binary").as("key"),
      encode(col("value"), "UTF-8").as("value"),
      lit(topic).as("topic"),
      lit(0).as("partition"),
      // only a real broker assigns offsets; the emulator pins the SCHEMA
      // with a placeholder (monotonically_increasing_id is rejected under
      // readStream, and inventing offset semantics here would be a lie)
      lit(-1L).as("offset"),
      current_timestamp().as("timestamp"),
      // the connector's 7th column — 0 = CreateTime; without it the
      // emulator's frame is not schema-identical to the real source and
      // the deploy-time swap-in fails any strict schema check or union
      lit(0).as("timestampType"))

  /** The pyetl "parse the consumed message" step against the bus contract:
    * decode the binary `value`, tolerant-parse the JSON into `schema`
    * columns (malformed payloads yield a row of nulls plus the raw line in
    * `_corrupt`, never a failed batch), and keep the bus provenance
    * (topic, partition, offset). Stateless — runs identically under
    * readStream; StreamingSpec drives it MemoryStream → sink end-to-end,
    * corrupt message included.
    */
  def parseBus(bus: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val raw = col("value").cast("string")
    // from_json returns an all-null struct (not a null) for malformed
    // input, so corrupt detection uses the parser's own corrupt-record
    // column — the same idiom as Sinks.tolerantJson
    val withCorrupt = schema.add("_corrupt", org.apache.spark.sql.types.StringType)
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")
    bus.select(col("topic"), col("partition"), col("offset"),
      from_json(raw, withCorrupt, opts).as("m"))
      .select(col("topic"), col("partition"), col("offset"), col("m.*"))
  }

  /** Watermarked tumbling-window counts — the streaming twin of
    * JsonEtl.tumblingWindow. State per (window, type) is dropped once the
    * watermark passes, so state size is O(active windows), not O(stream).
    */
  def windowCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("eventType"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("eventType"),
        col("n"), col("sum_value"))

  /** Exactly-once-per-key dedup within the watermark horizon — pyetl's
    * "at-least-once upstream, once downstream" guard. Spark keeps one state
    * row per key seen inside the horizon.
    */
  def dedupe(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("userId", "ts")

  /** Streaming keyed upsert — [[graft.etl.JsonEtl.latestByKey]]'s
    * continuous twin: a latest-record-per-key materialized view fed by the
    * stream, one state row per key holding the current winner (latest by
    * (ts, value, eventType) — a total order, so ties can't flap between
    * batches). Each batch emits ONLY keys whose winner changed — exactly
    * the delta a downstream key-value store applies, pyetl's table
    * destination without the per-message put loop.
    *
    * State is KEYSPACE-bounded (one row per live key), not
    * watermark-bounded: an upsert view must answer for keys idle longer
    * than any horizon, the same bound the downstream table itself carries.
    * Late events fold in correctly (the max is order-independent), so no
    * watermark is needed for correctness either.
    */
  def upsertLatest(events: Dataset[Event]): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[Event, Event](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[Event], state: GroupState[Event]) =>
          val prev = state.getOption
          val winner = (evs ++ prev.iterator)
            .maxBy(e => (e.ts.getTime, e.value, e.eventType))
          state.update(winner)
          if (prev.contains(winner)) Iterator.empty else Iterator.single(winner)
      }
  }

  /** Gap-based session windows via flatMapGroupsWithState with *event-time*
    * timeouts: a session closes `gapSec` after its last event, measured
    * against the watermark — wall-clock-independent, so replays and
    * backfills produce identical sessions, and AvailableNow batch-style
    * runs terminate (processing-time timers would keep the query spinning).
    * State = (start, end, count, sum) per live user — constant per key,
    * reaped by the watermark.
    */
  /** The per-batch session fold SHARED by both state-API twins (their
    * whole value is emitting identical sessions — one copy makes
    * divergence impossible, the same shared-core discipline as
    * chunkStream): sorted events against the live state → (sessions
    * closed by gaps inside the batch, state to carry forward).
    */
  private def foldEvents(userId: Long, sorted: Seq[Event],
      start: Option[SessState], gapSec: Long): (List[Session], Option[SessState]) = {
    var closed = List.empty[Session]
    var cur = start
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      cur match {
        case Some(s) if sec - s.endSec <= gapSec =>
          // min/max, not assignment: a LATE event (admitted by the
          // watermark in a later batch) can precede the carried state's
          // bounds — overwriting endSec with an earlier second shrank
          // the session backwards (end < start in the emitted row) and
          // re-armed the close timer early, splitting one real session
          // in two. Bounds only ever widen; the late event's count and
          // sum fold in order-independently.
          cur = Some(s.copy(startSec = math.min(s.startSec, sec),
            endSec = math.max(s.endSec, sec),
            n = s.n + 1, sum = s.sum + e.value))
        case Some(s) =>
          closed ::= Session(userId, s.startSec, s.endSec, s.n, s.sum)
          cur = Some(SessState(sec, sec, 1L, e.value))
        case None =>
          cur = Some(SessState(sec, sec, 1L, e.value))
      }
    }
    (closed.reverse, cur)
  }

  def sessionize(events: Dataset[Event], gapSec: Long = 1800L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._

    def update(userId: Long, evs: Iterator[Event],
        state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, s.startSec, s.endSec, s.n, s.sum))
      } else {
        val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
        val (closed, cur) = foldEvents(userId, sorted, state.getOption, gapSec)
        cur.foreach { s =>
          state.update(s)
          // close when the watermark passes session end + gap (the timeout
          // timestamp must sit strictly beyond the current watermark)
          val target = (s.endSec + gapSec) * 1000
          state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1))
        }
        closed.iterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** The per-key session logic of [[sessionizeTws]]: explicit value-state
    * handle + one event-time timer per key, against [[sessionize]]'s
    * single state object with a timeout. The fold over a batch's events is
    * the same code shape; what changes is the lifecycle — timers are
    * first-class (registered/deleted explicitly, at most one live per key
    * here) and expiry gets its own callback instead of re-entering the
    * update function with hasTimedOut.
    */
  private class SessionProcessor(gapSec: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("session",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, evs: Iterator[Event],
        timers: TimerValues): Iterator[Session] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
      val prev = if (state.exists()) Some(state.get()) else None
      val (closed, cur) = foldEvents(userId, sorted, prev, gapSec)
      cur.foreach { s =>
        state.update(s)
        // one live timer per key: the session's close time moved, so the
        // stale timer must go or every extension would leak a timer row
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        val target = (s.endSec + gapSec) * 1000
        getHandle.registerTimer(math.max(target, timers.getCurrentWatermarkInMs + 1))
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Session] =
      if (state.exists()) {
        val s = state.get()
        state.clear() // the eviction StreamingSpec pins via state metrics
        Iterator(Session(userId, s.startSec, s.endSec, s.n, s.sum))
      } else Iterator.empty
  }

  /** [[sessionize]] on `transformWithState` — Spark 4's successor to
    * flatMapGroupsWithState: typed state handles and first-class timers
    * instead of one state object with a timeout mode. Both twins stay:
    * the FMGWS form runs on any state store provider, this one requires
    * RocksDB (`spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider — the API's backing-store contract), which
    * is also the provider a 100 TB/day stream wants (state spills off-heap
    * instead of into executor memory). StreamingSpec pins twin parity on
    * the same input and state eviction under watermark advance.
    */
  def sessionizeTws(events: Dataset[Event], gapSec: Long = 1800L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .transformWithState(new SessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-static enrichment: join the live stream against a (slowly
    * changing) dimension table — pyetl's per-message lookup enrichment;
    * Spark broadcasts the static side when small. Freshness contract:
    * the static PLAN re-executes per micro-batch, but a plain parquet
    * frame caches its FILE LISTING at creation — files appended after
    * the frame was built are invisible, and a compaction that rewrites
    * the dim in place fails the next batch with a stale-listing read
    * error. A dim that changes while the query runs must come through a
    * source that re-resolves (a table format with a transaction log) or
    * be re-read inside a foreachBatch body; the batch-refresh sinks in
    * this file take the second route.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String,
      joinType: String = "left_outer"): DataFrame =
    events.join(dim, Seq(key), joinType)

  /** Watermarked stream-stream interval join: attribute each purchase to
    * clicks by the same user within the preceding `windowSec`. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so Spark can reap join state — without the time bound the state grows
    * unboundedly and a 100 TB/day stream dies.
    */
  def streamStreamAttribution(purchases: DataFrame, clicks: DataFrame,
      windowSec: Long = 600L, watermark: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("userId"), col("ts").as("p_ts"), col("value").as("p_value"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("userId").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("userId") === col("c_user")
        && col("c_ts") <= col("p_ts")
        && col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("userId"), col("p_ts"), col("p_value"), col("c_ts"))
  }

  /** Streaming incremental-ingest dedup — the continuous twin of
    * graft.ops.Dedup.incremental: arriving documents are dropped when their
    * normalized hash already exists in the static corpus (stream-static
    * LEFT ANTI join against the digest frame AS RESOLVED AT QUERY START —
    * see [[enrich]]'s freshness contract: a plain parquet digest frozen
    * mid-query needs a foreachBatch re-read or a log-backed table to see
    * later corpus appends) or was already seen in the stream within the watermark
    * horizon (`dropDuplicatesWithinWatermark`, so dedup state is reaped
    * instead of growing with the stream). Only hashes cross the join — at
    * 100 TB/day the anti-join is hash-equi against a corpus digest table,
    * never against document bodies.
    */
  def incrementalDedup(docs: DataFrame, corpusHashes: DataFrame,
      textCol: String = "text", watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_md5",
        md5(lower(trim(regexp_replace(col(textCol), "\\s+", " ")))))
      .withWatermark("ts", watermark)
      .join(corpusHashes.select(col("text_md5")), Seq("text_md5"), "left_anti")
      .dropDuplicatesWithinWatermark("text_md5")

  /** Stateless curation gate on a live document stream — the continuous
    * twin of the batch gate stages: language allow-list, stopword-ratio
    * quality floor (curateCorpus's gate, same constants), deterministic
    * mixture sampling (Curation.mixturePredicate — hash arithmetic, no
    * RNG, so a replayed micro-batch keeps the same sample), and PII
    * scrubbing (JsonEtl.scrub). Every stage is a pure column expression:
    * zero streaming state, the plan is the batch plan under readStream,
    * and StreamingSpec pins batch/stream row parity. The STATEFUL curation
    * stages stay where state is managed: [[incrementalDedup]] (dedup) —
    * compose downstream of this gate.
    */
  def curateGate(docs: DataFrame,
      langs: Seq[String] = Seq("en", "fr", "es", "de", "zh"),
      minStopRatio: Double = 0.05,
      bps: Map[String, Int] = Map.empty, defaultBps: Int = 10000,
      textCol: String = "text"): DataFrame = {
    import graft.ops.TextAnalysis.{hits, stopEn, words}
    val nWords = size(words(col(textCol))).cast("long")
    val nStop = hits(col(textCol), stopEn)
    docs
      .filter(col("lang").isin(langs: _*))
      .withColumn("stop_ratio", nStop.cast("double") / nWords.cast("double"))
      .filter(col("stop_ratio") >= minStopRatio)
      .filter(graft.ops.Curation.mixturePredicate(bps, defaultBps))
      .withColumn(textCol, graft.etl.JsonEtl.scrub(col(textCol)))
  }

  /** Stateless context-window chunking on a live document stream — the
    * continuous twin of graft.ops.TextAnalysis.chunkDocuments (same core,
    * shared not copied): each arriving document fans out to its
    * window/stride chunks via a pure explode, zero streaming state, so a
    * replayed micro-batch emits byte-identical chunks. Compose after
    * [[curateGate]]/[[incrementalDedup]] so only surviving docs are
    * chunked. StreamingSpec pins batch/stream row parity.
    */
  def chunkStream(docs: DataFrame, window: Int = 50, stride: Int = 40): DataFrame =
    graft.ops.TextAnalysis.chunkCore(docs, window, stride)

  /** Stateless benchmark-decontamination gate on a live document stream —
    * the continuous twin of graft.ops.TextAnalysis.decontaminateBloom
    * (same `bloomFlagged` core, shared not copied): docs sharing any word
    * n-gram with the prebuilt benchmark sketch are dropped as they arrive.
    * The sketch is a BATCH artifact (benchmarks are static — build it once
    * per eval-suite release with `buildBenchmarkBloom`, feed the bytes
    * in); the per-doc decision is a pure scan-local projection, so the
    * gate carries zero streaming state and a replayed micro-batch drops
    * byte-identical rows. Zero false negatives structurally — no
    * contaminated doc can slip through the stream. Compose upstream of
    * [[incrementalDedup]]/[[chunkStream]].
    */
  def decontaminateStream(docs: DataFrame, bloomBytes: Array[Byte],
      n: Int = 5): DataFrame =
    docs.filter(graft.ops.TextAnalysis.bloomFlagged(bloomBytes, n) === 0L)

  // ---------------------------------------------- sink batch-commit protocol
  /** Replace one micro-batch's files in a flat parquet sink dir: write the
    * batch to `<dir>_staging/<batchId>`, DELETE any `b<batchId>-*` files a
    * previous crashed attempt left behind, then move the staged parquet
    * files in under `b<batchId>-`-prefixed names. Because a retry replaces
    * the batch's WHOLE file set (the prefix identifies it), re-running for
    * a batch id is idempotent even though a batch spans several task
    * files — the property plain `mode("append")` cannot give. Renames are
    * per-file metadata moves on HDFS-likes; on object stores the usual
    * rename caveats apply (same as [[graft.ops.Layout.rewriteInPlace]]).
    */
  /** Delete one batch's `b<batchId>-*` files from a sink dir — the
    * physical rows a crashed earlier attempt of that batch left behind.
    * [[replaceBatchFiles]] does this before moving the retry's files in;
    * `appendToIndexAt` also calls it BEFORE planning its batch (its
    * dedup anti-join reads the dir, and feeding it the crashed attempt's
    * own partial rows would make the retry skip — then delete — them).
    */
  private[graft] def dropBatchFiles(s: SparkSession, dir: String,
      batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirP)) return
    val prefix = s"b$batchId-"
    fs.listStatus(dirP)
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .foreach(st => fs.delete(st.getPath, false))
  }

  private[graft] def replaceBatchFiles(s: SparkSession, dir: String,
      batchId: Long)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = new Path(s"${dir}_staging/$batchId")
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    fs.mkdirs(dirP)
    dropBatchFiles(s, dir, batchId)
    val prefix = s"b$batchId-"
    fs.listStatus(staging)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val dest = new Path(dirP, prefix + st.getPath.getName)
        require(fs.rename(st.getPath, dest),
          s"replaceBatchFiles: rename ${st.getPath} -> $dest failed")
      }
    fs.delete(staging, true)
  }

  /** Exactly-once per-batch commit across one or more sink dirs: marker
    * check → staged writes → batch-prefixed file moves → marker create
    * (at `<markerBase>_batches/<batchId>`). Every crash window replays
    * clean: before the moves nothing reached a target dir; between moves
    * and marker the replay REPLACES each dir's `b<batchId>-*` file set;
    * after the marker the batch skips whole. This closes the
    * at-least-once duplicate window the event-row sinks (verdict rows,
    * clean/quarantined rows, route fan-outs) had under `mode("append")`
    * — rows no compaction could dedup, because unlike the ingest sinks'
    * content-derived index rows they carry no identity to dedup on.
    * Concurrent readers may see a mid-commit batch partially (multi-file
    * appends are never atomic as a set); they never see duplicates
    * persist.
    */
  private[graft] def commitBatch(s: SparkSession, markerBase: String,
      batchId: Long)(writes: (String, String => Unit)*): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(markerBase)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!isBatchCommitted(s, markerBase, batchId)) {
      writes.foreach { case (d, w) => replaceBatchFiles(s, d, batchId)(w) }
      fs.create(new Path(s"${markerBase}_batches/$batchId"), true).close()
    }
  }

  /** The committed-batch WATERMARK: every batch id ≤ the watermark is
    * known committed, so its marker file is redundant and can be
    * garbage-collected. Without this, `<markerBase>_batches` grows one
    * empty file per micro-batch FOREVER — a year of 1-minute batches is
    * half a million marker files, and every replay check lists the dir.
    * [[advanceWatermark]] (called from the compactions — the natural
    * maintenance point) folds the contiguous committed prefix into one
    * number and deletes the folded markers; [[isBatchCommitted]] answers
    * from the number first, the marker file second. Contiguity from the
    * previous watermark is required to advance — a gap means the skipped
    * id was never committed, and claiming it committed would make a later
    * legitimate delivery of that id a silent drop. Streaming batch ids
    * are 0-based and monotone, so the prefix is the whole history.
    */
  private[graft] def committedWatermark(s: SparkSession,
      markerBase: String): Long = {
    import org.apache.hadoop.fs.Path
    val wm = new Path(s"${markerBase}_batches/_watermark")
    val fs = wm.getFileSystem(s.sparkContext.hadoopConfiguration)
    def readLong(p: Path): Long =
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .toLongOption.getOrElse(-1L)
        finally in.close()
      }
    // the max of both files is always a valid watermark: any value ever
    // written to either was contiguous-committed at write time, and
    // committed-ness is permanent. Reading both (and tolerating an
    // unparseable one) makes every crash window of [[advanceWatermark]]'s
    // tmp-then-swap recoverable without manual repair.
    math.max(readLong(wm), readLong(new Path(wm.toString + ".tmp")))
  }

  /** True when `batchId` is already committed at `markerBase` — by
    * watermark (≤ the GC'd prefix) or by a still-present marker file.
    */
  private[graft] def isBatchCommitted(s: SparkSession, markerBase: String,
      batchId: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    if (batchId <= committedWatermark(s, markerBase)) true
    else {
      val marker = new Path(s"${markerBase}_batches/$batchId")
      marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
    }
  }

  /** Fence the batch epoch at `markerBase` for a rebuild
    * ([[graft.ops.Similarity.retrainIndex]]): fold the contiguous
    * COMMITTED prefix into the watermark and return the highest batch id
    * ever seen, so new batches number above everything pre-rebuild.
    * Committed ids above a gap keep their marker files (they still skip
    * on replay, answered by the marker instead of the watermark). A
    * never-committed gap id is NOT fenced: its content reached neither
    * the old index nor the rebuild (the rebuild's corpus is the
    * COMMITTED content), so a later legitimate retry of that id must
    * still apply — forcing the watermark over the gap would turn that
    * retry into a silent drop, exactly the hazard the contiguity rule
    * exists to prevent.
    */
  private[graft] def fenceBatchEpoch(s: SparkSession,
      markerBase: String): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"${markerBase}_batches")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val maxId: Long =
      if (!fs.exists(dir)) -1L
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.matches("\\d+")).map(_.toLong)
        .foldLeft(-1L)(math.max)
    math.max(advanceWatermark(s, markerBase)._2, maxId)
  }

  /** Fold the contiguous committed prefix of marker files into the
    * watermark and delete them; returns (old, new) watermark.
    * Single-writer maintenance, like the compactions that call it. The
    * watermark file update is crash-safe: the new value writes to
    * `_watermark.tmp` first, then swaps in (delete + rename) — a kill at
    * any point leaves at least one parseable file carrying a valid
    * watermark ([[committedWatermark]] reads the max of both), never a
    * truncated `_watermark` that would reset folded ids to "uncommitted"
    * after their marker files are gone.
    */
  private[graft] def advanceWatermark(s: SparkSession,
      markerBase: String): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"${markerBase}_batches")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val old = committedWatermark(s, markerBase)
    val wm = new Path(dir, "_watermark")
    val tmp = new Path(dir, "_watermark.tmp")
    // heal a previous swap that crashed between delete and rename: tmp is
    // then the ONLY valid copy, and truncating it for this round's write
    // before promoting it would destroy the watermark entirely
    if (!fs.exists(wm) && fs.exists(tmp)) fs.rename(tmp, wm)
    val ids: Set[Long] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.matches("\\d+")).map(_.toLong).toSet
    var w = old
    while (ids.contains(w + 1)) w += 1
    if (w > old) {
      val out = fs.create(tmp, true)
      try out.write(w.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(wm, false)
      require(fs.rename(tmp, wm),
        s"advanceWatermark: rename $tmp -> $wm failed")
    }
    // markers delete only after the watermark durably covers them
    ids.filter(_ <= w).foreach(id => fs.delete(new Path(dir, id.toString), false))
    (old, w)
  }

  /** Maintenance compaction for a streaming sink output dir
    * (pairs/audit/clean/quarantine/route dirs — flat parquet growing one
    * `b<id>-`-prefixed file per writer task per micro-batch): one
    * [[graft.ops.Layout.compactFlat]] rewrite bounds the file count, the
    * same nightly-hygiene step the persisted indexes get. Before
    * compacting, `b<id>-*` files whose batch has NO commit marker are
    * dropped — they are partial state of a crashed commit whose replay
    * rewrites the whole batch, and folding them into compacted files
    * would make that replay a duplication. Run it as the indexes'
    * compactions are run: not concurrently with an in-flight commit to
    * the same dir (single-writer maintenance, the lake discipline).
    *
    * @param markerBase where the sink keeps its markers when not at
    *   `<dir>_batches` — [[multiSink]] route dirs share the base dir's
    *   marker set, so pass `Some(baseDir)` for those.
    */
  /** Delete `b<id>-*` files in `dir` whose batch has NO commit marker
    * under `<markerBase>_batches` — partial state of a crashed commit
    * whose retry rewrites the whole batch. Shared by [[compactSinkDir]]
    * and the ANN index compaction (whose codes dir takes the same
    * batch-prefixed appends via `appendToIndexAt`): folding an
    * uncommitted batch into compacted files would turn its retry into a
    * duplication.
    */
  /** @param requireProtocolState when true (the maintenance default),
    *   refuse to sweep a dir holding batch files but NO marker/watermark
    *   state — the caller-supplied markerBase is probably wrong. The
    *   append path passes false: its markerBase is derived from the index
    *   path (never wrong), and a first-ever batch that crashed between
    *   file moves and marker leaves exactly this state legitimately.
    */
  private[graft] def dropUncommittedBatchFiles(s: SparkSession, dir: String,
      markerBase: String, requireProtocolState: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return
    val markers: Set[String] = {
      val mp = new Path(s"${markerBase}_batches")
      if (fs.exists(mp)) fs.listStatus(mp).map(_.getPath.getName).toSet
      else Set.empty
    }
    // ids at or below the watermark are committed even though their marker
    // files were GC'd — multiSink route dirs share one marker base, so a
    // compaction of route A must not turn route B's COMMITTED batch files
    // into "uncommitted" deletions
    val wm = committedWatermark(s, markerBase)
    val batchFile = "^b(\\d+)-.*".r
    val batchFiles = fs.listStatus(new Path(dir)).filter(st =>
      st.isFile && batchFile.pattern.matcher(st.getPath.getName).matches())
    // no protocol state at all (no markers, no watermark) but batch files
    // present means either a WRONG markerBase (the files were committed
    // against some other base — sweeping would silently delete the whole
    // committed dataset) or a compaction racing the very first commit.
    // Neither is adjudicable here: fail loudly instead of deleting.
    require(!requireProtocolState || batchFiles.isEmpty || markers.nonEmpty ||
      wm >= 0,
      s"no commit-protocol state at ${markerBase}_batches but $dir holds " +
        s"${batchFiles.length} batch-prefixed files — pass the sink's real " +
        "markerBase (multiSink route dirs and ingest pairs dirs commit " +
        "against a shared base), or let the first batch commit before " +
        "compacting")
    batchFiles.foreach { st =>
      st.getPath.getName match {
        case batchFile(id) if !markers.contains(id) && id.toLong > wm =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** Remove `<dir>_staging` wholesale — crashed commits leave their
    * staging dir behind (the cleanup in [[replaceBatchFiles]] only runs
    * on success), and a retry always starts by deleting its own staging
    * anyway. Maintenance-time only (single-writer: no in-flight commit
    * may be staging while a compaction runs, the same contract the data
    * rewrite itself requires).
    */
  private[graft] def dropStaleStaging(s: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"${dir}_staging")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  def compactSinkDir(s: SparkSession, dir: String,
      orderCol: org.apache.spark.sql.Column,
      maxRecordsPerFile: Long = 1L * 1024 * 1024,
      markerBase: Option[String] = None): (Long, Long, Long) = {
    dropStaleStaging(s, dir)
    dropUncommittedBatchFiles(s, dir, markerBase.getOrElse(dir))
    val audit = graft.ops.Layout.compactFlat(s, dir, orderCol, maxRecordsPerFile)
    // marker hygiene rides along: fold the contiguous committed prefix
    // into the watermark so the _batches dir stays bounded by
    // batches-since-last-compaction instead of growing one file per
    // micro-batch forever
    advanceWatermark(s, markerBase.getOrElse(dir))
    audit
  }

  /** Streaming lake-ingest sink that keeps the data-skipping tier FRESH:
    * each micro-batch lands under the exactly-once marker protocol
    * ([[commitBatch]] — replays replace their own `b<id>-*` file set),
    * then BOTH skipping manifests refresh INCREMENTALLY (first batch
    * creates them; later batches pay stats/Bloom cost ∝ the batch —
    * [[graft.ops.Layout.refreshManifestIncremental]]'s immutable-file
    * argument). This closes the loop the batch world already has: without
    * it, a streamed table's manifests go stale one batch at a time and
    * every pruned read degrades toward a full scan (safely — uncovered
    * files are always kept — but the whole point of the tier erodes).
    *
    * Crash contract: the manifest refresh runs AFTER the batch's marker
    * commits, so a crash between the two leaves the new files merely
    * UNCOVERED (the safe degrade the pruned readers are built on), and
    * the NEXT batch's incremental refresh covers them — the refresher
    * scans every uncovered file, not just its own batch's, so staleness
    * self-heals without any repair step. Periodic [[compactSinkDir]]
    * rebuilds both manifests over the compacted layout as always.
    */
  /** The one foreachBatch scaffold every `*IngestSink` wraps: Append
    * mode, the caller's checkpoint, start. Shared so a future scaffold
    * change (queryName, trigger config, an error hook) lands in ONE
    * place instead of being hand-applied across ~20 sinks and silently
    * missing one.
    */
  private def batchSink(input: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  def skippingIngestSink(events: DataFrame, dir: String, checkpoint: String,
      statsCols: Seq[String], bloomCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        commitBatch(s, dir, batchId)(
          dir -> { st => batch.write.parquet(st) })
        if (graft.ops.Layout.manifestCols(s, dir).isEmpty)
          graft.ops.Layout.writeManifest(s, dir, statsCols)
        else { graft.ops.Layout.refreshManifestIncremental(s, dir); () }
        bloomCol.foreach { c =>
          if (graft.ops.Layout.bloomManifestCol(s, dir).isEmpty)
            graft.ops.Layout.writeBloomManifest(s, dir, c)
          else { graft.ops.Layout.refreshBloomManifestIncremental(s, dir); () }
        }
    }

  /** The living-corpus ingest loop end to end: each arriving micro-batch
    * of documents is near-dup-checked against the PERSISTED MinHash
    * signature index ([[graft.ops.Dedup.minhashIncremental]] — detected
    * pairs land in `pairsDir` tagged with their batch id) and then folded
    * into the index ([[graft.ops.Dedup.appendToMinhashIndex]]). Streaming
    * ingest keeping the batch world's dedup index current is the pyetl
    * ingest loop at corpus scale: per batch the work is |batch| shingling
    * + a band join against stored buckets, never a corpus rescan, and
    * after N batches the index is EXACTLY the batch-built index over the
    * same docs (StreamingSpec pins it). The first batch bootstraps
    * against [[graft.ops.Dedup.emptyMinhashIndex]], so within-batch dups
    * are detected from batch zero.
    *
    * Replay semantics: foreachBatch re-delivers a batch after failure; a
    * marker file per batch id (under `<indexPath>_batches`) makes the
    * fold idempotent on restart — a replayed batch skips whole. The
    * marker commits AFTER the append, so a crash between the two re-folds
    * that one batch (at-least-once on the INDEX side); duplicated
    * signature rows only duplicate candidate generation — they never lose
    * pairs — and the next [[graft.ops.Dedup.compactMinhashIndex]] drops
    * them (dropDuplicates on content-derived rows is lossless). The
    * PAIRS output has no such dedup identity across replays, so it goes
    * through [[replaceBatchFiles]]: a replayed batch replaces its own
    * file set instead of appending a second copy.
    */
  def dedupIngestSink(docs: DataFrame, indexPath: String, pairsDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(docs, checkpoint) { (batch: DataFrame, batchId: Long) =>
        ingestDocBatch(batch, batchId, indexPath, pairsDir, labelsDir = None)
    }

  /** One micro-batch of the doc-ingest loop — shared verbatim by
    * [[dedupIngestSink]] and [[componentsIngestSink]] so the two can never
    * disagree on the pairs/index/commit protocol; the component fold is
    * the only optional step.
    */
  private[graft] def ingestDocBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsDir: String, labelsDir: Option[String]): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!isBatchCommitted(s, indexPath, batchId)) {
      val cached = batch.persist()
      try {
        val idx =
          if (fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
            graft.ops.Dedup.loadMinhashIndex(s, indexPath)
          else graft.ops.Dedup.emptyMinhashIndex(s)
        // unsorted pair body: the batch's pairs are bulk-written and folded
        // (set semantics) — the public form's (d1, d2) sort would be a
        // per-micro-batch range shuffle no reader depends on
        val pairs = graft.ops.Dedup.minhashIncrementalPairs(s, cached, idx)
          .withColumn("batch_id", lit(batchId))
          .persist()
        try {
          replaceBatchFiles(s, pairsDir, batchId)(pairs.write.parquet(_))
          // fold the batch's pairs into the persisted component table
          // BEFORE the index append (both orders are correct — the fold
          // reads only the pairs — but this keeps every artifact the fold
          // depends on strictly pre-batch). A crash between this rewrite
          // and marker-create replays the whole body, and re-folding the
          // SAME pairs into the already-folded labeling is a no-op by the
          // contraction argument (components(labels ∪ p) = components(
          // labels) when labels already absorbed p — spec-pinned), so the
          // at-least-once window cannot corrupt or duplicate labels.
          labelsDir.foreach { ld =>
            val ldp = new org.apache.hadoop.fs.Path(ld)
            val labels0 =
              if (fs.exists(ldp)) s.read.parquet(ld)
              else s.range(0).select(col("id").as("doc_id"),
                col("id").as("canonical_id"))
            val folded = graft.ops.Dedup.nearDupGroupsIncremental(
              labels0, pairs.select(col("d1"), col("d2")))
            // writeStaged dispatches fresh vs rewrite-in-place AND stages
            // the very first write: a plain bootstrap write crashed
            // mid-flight leaves a footer-less dir that every replay then
            // trips over (exists → read → AnalysisException) — the one
            // window the surrounding protocol didn't cover
            graft.ops.Layout.writeStaged(s, ld)(folded.write.parquet(_))
            folded.unpersist()
          }
        } finally { pairs.unpersist(); () }
        graft.ops.Dedup.appendToMinhashIndex(s, cached, indexPath)
        fs.create(new org.apache.hadoop.fs.Path(
          s"${indexPath}_batches/$batchId"), true).close()
      } finally { cached.unpersist(); () }
    }
  }

  /** [[dedupIngestSink]] plus a live COMPONENT TABLE: each micro-batch's
    * pairs fold into the persisted labeling at `labelsDir` via
    * [[graft.ops.Dedup.nearDupGroupsIncremental]] (the contraction
    * argument — never re-propagating history), so the near-dup group
    * assignment a curation pass reads is always current without any
    * full-corpus recompute ever running. After N batches the table is
    * EXACTLY `nearDupGroups` over the full corpus's pairs (spec-pinned:
    * batch-k pairs are precisely the pairs whose latest member arrived in
    * batch k, so the folds partition the full pair set). The labeling
    * rewrites in place per batch (it is a function of all pairs so far,
    * not an append); replay and crash windows are no-ops by fold
    * idempotency, documented in [[ingestDocBatch]].
    */
  def componentsIngestSink(docs: DataFrame, indexPath: String,
      pairsDir: String, labelsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(docs, checkpoint) { (batch: DataFrame, batchId: Long) =>
        ingestDocBatch(batch, batchId, indexPath, pairsDir, Some(labelsDir))
    }

  /** [[dedupIngestSink]]'s EMBEDDING twin — the other half of the
    * living-corpus loop: each micro-batch of (vec_id, embedding) rows is
    * near-dup-checked against the persisted embedding index
    * ([[graft.ops.Dedup.embeddingIncremental]] — only the batch runs the
    * hyperplane kernel; the corpus side contributes stored buckets and
    * vectors), the batch-tagged (v1, v2, cosine) pairs append to
    * `pairsDir`, and the batch folds in via
    * [[graft.ops.Dedup.appendToEmbeddingIndex]]. Batch 0 bootstraps on
    * [[graft.ops.Dedup.emptyEmbeddingIndex]]; marker files make replays
    * idempotent. The at-least-once crash window between index append and
    * marker-create only duplicates content-derived vector/bucket rows,
    * which [[graft.ops.Dedup.compactEmbeddingIndex]]'s dropDuplicates
    * folds away losslessly — the [[dedupIngestSink]] argument; the pairs
    * output replays through [[replaceBatchFiles]] (no append-duplicate
    * window).
    */
  def embeddingIngestSink(vectors: DataFrame, indexPath: String,
      pairsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(vectors, checkpoint) { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(indexPath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!isBatchCommitted(s, indexPath, batchId)) {
          val cached = batch.persist()
          try {
            val (vecs, buckets) =
              if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/vectors")))
                graft.ops.Dedup.loadEmbeddingIndex(s, indexPath)
              else graft.ops.Dedup.emptyEmbeddingIndex(s)
            replaceBatchFiles(s, pairsDir, batchId) { staging =>
              graft.ops.Dedup.embeddingIncremental(s, cached, vecs, buckets)
                .withColumn("batch_id", lit(batchId))
                .write.parquet(staging)
            }
            graft.ops.Dedup.appendToEmbeddingIndex(s, cached, indexPath)
            fs.create(new org.apache.hadoop.fs.Path(
              s"${indexPath}_batches/$batchId"), true).close()
          } finally { cached.unpersist(); () }
        }
    }

  /** The ANN-index member of the living-corpus loop — nightly
    * [[graft.ops.Similarity.appendToIndex]] as a streaming sink, with
    * the drift monitor wired in: each micro-batch of (vec_id, embedding)
    * rows encodes against the index's FROZEN models (one assignCells +
    * one assignCodes over batch rows only — the corpus is never
    * touched), its codes land in the index's codes table, and its drift
    * statistics ([[graft.ops.Similarity.recordDrift]]'s row — mean
    * quantization error + top-cell occupancy under the frozen models)
    * append to the drift table, so the retrain signal accumulates as
    * the index grows. Build the index with `saveIndex` +
    * `recordDriftBaseline` first; serve with `openIndex` (tombstones
    * and all appended batches applied).
    *
    * Unlike the dedup ingest sinks — whose crash-window duplicate rows
    * are harmless until compaction dedups them — duplicate CODE rows
    * would break retrieval outright (the ADC completeness filter
    * `n_subs = m` sees 2m rows per duplicated vector and drops it), so
    * both writes go through the exactly-once [[replaceBatchFiles]]
    * protocol under one marker: every crash window replays clean.
    * Re-added vec_ids clear their tombstones (the takedown-reversal
    * rule the dedup appends follow).
    */
  def annIngestSink(vectors: DataFrame, indexPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(vectors, checkpoint) { (batch: DataFrame, batchId: Long) =>
        // the index's shape (kind, IVF, encoding) is read from its stamp
        // by the append — one sink body serves every index flavor
        graft.ops.Similarity.appendToIndexAt(batch.sparkSession, indexPath,
          batch, batchId)
        ()
    }

  /** Continuous data-contract monitoring — [[graft.etl.Expectations]] per
    * micro-batch: each batch's one-pass verdict report (check,
    * violations, total, passed) appends batch-tagged to `auditDir`, so
    * the audit table IS the contract's time series (alert = read the
    * tail, trend = group by check). The check list compiles into the
    * same single HashAggregate as the batch form — per-batch cost is one
    * scan of the batch, nothing corpus-sized. Completes the contract
    * trio: read-side report (`expectations`), write-gate
    * ([[graft.etl.Sinks]]' audited promote), and this streaming monitor.
    */
  def expectationsSink(events: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column, Long)],
      uniqueKeys: Seq[(String, org.apache.spark.sql.Column, Long)],
      auditDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        // verdict rows are NOT content-derived (no identity to dedup on
        // later), so this sink commits through the exactly-once protocol:
        // staged write → batch-prefixed file replace → marker
        commitBatch(batch.sparkSession, auditDir, batchId)(
          auditDir -> { staging =>
            graft.etl.Expectations.expectations(batch, checks, uniqueKeys)
              .withColumn("batch_id", lit(batchId))
              .write.parquet(staging)
          })
    }

  /** Streaming dead-letter routing — [[expectationsSink]]'s remediation
    * twin: each micro-batch splits through
    * [[graft.etl.Expectations.quarantine]] (same predicates as the
    * verdict report), clean rows land in `cleanDir`, violating rows land
    * batch-tagged with their `violated` check names in `quarantineDir`
    * (replay a quarantined row after its named checks pass — the
    * dead-letter convention). The batch persists once so the two routes
    * filter cached data; both dirs commit under ONE marker through the
    * exactly-once protocol — a crash anywhere in the two-dir window
    * replays by replacing each dir's batch file set, so neither clean
    * nor quarantined rows can duplicate (they carry no dedup identity,
    * so an append-duplicate would be permanent).
    */
  def quarantineSink(events: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column, Long)],
      cleanDir: String, quarantineDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          val (clean, bad) = graft.etl.Expectations.quarantine(cached, checks)
          commitBatch(batch.sparkSession, cleanDir, batchId)(
            cleanDir -> (staging => clean.write.parquet(staging)),
            quarantineDir -> { staging =>
              bad.withColumn("batch_id", lit(batchId)).write.parquet(staging)
            })
        } finally { cached.unpersist(); () }
    }

  /** pyetl's multi-destination writer loop: one micro-batch, N sinks, via
    * foreachBatch. The batch is persisted once so each route filters the
    * cached data instead of re-reading the source; all routes commit
    * under ONE marker (at `<baseDir>_batches`) through the exactly-once
    * protocol, so a crash mid-fan-out replays without duplicating any
    * route's rows. Route-dir maintenance goes through [[compactSinkDir]]
    * with `markerBase = Some(baseDir)`.
    */
  def multiSink(events: DataFrame, baseDir: String,
      routes: Map[String, org.apache.spark.sql.Column],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try commitBatch(batch.sparkSession, baseDir, batchId)(
          routes.toSeq.map { case (name, pred) =>
            (s"$baseDir/$name",
              (staging: String) => cached.filter(pred).write.parquet(staging))
          }: _*)
        finally { cached.unpersist(); () }
    }

  /** Streaming incremental state — pyetl's rolling keyed states kept live
    * by the stream itself: each micro-batch folds into the persisted
    * state of `kind` (any [[graft.etl.StateKind]], windowed forms
    * included) via [[graft.etl.JsonEtl.foldAt]]. Unlike the index ingest
    * sinks (content-derived rows, replay-duplicates compact away), a
    * state fold is NOT idempotent — so this sink leans on the state's own
    * atomically-swapped fold watermark instead of marker files: a
    * replayed micro-batch is a no-op, a crash mid-swap restores the
    * parked generation, and after N batches the state is EXACTLY the
    * fold of everything delivered (spec-pinned per kind). Per batch: one
    * batch-sized build + one state-sized merge — history is never
    * rescanned. Checkpoint-lineage rule: resetting `checkpoint` restarts
    * batch ids at 0, which the fence reads as replays — point a
    * restarted stream at a fresh `statePath` too (see
    * [[graft.etl.JsonEtl.foldAt]]'s fence note).
    */
  def stateIngestSink(events: DataFrame, statePath: String,
      checkpoint: String,
      kind: graft.etl.StateKind): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        graft.etl.JsonEtl.foldAt(batch.sparkSession, statePath, batch,
          batchId, kind)
    }

  /** [[stateIngestSink]] for the additive aggregate state. */
  def aggIngestSink(events: DataFrame, statePath: String,
      checkpoint: String,
      keys: Seq[String] = Seq("user_id", "event_type"),
      valueCol: String = "value"): org.apache.spark.sql.streaming.StreamingQuery =
    stateIngestSink(events, statePath, checkpoint,
      graft.etl.StateKind.Agg(keys, valueCol))

  /** Seed the dimension side of a streaming join view — the one-time
    * load before [[joinIngestSink]] starts (the star-schema shape: facts
    * stream, the dim is a frozen snapshot; a dim refresh is a REBUILD —
    * new root, new checkpoint — per the one-lineage fence rule). Staged
    * ([[graft.ops.Layout.writeStaged]]): a crash mid-seed must not leave
    * a PARTIAL dim that the first fact batch silently joins against —
    * with an append-only view, keys missing from a half-seeded dim would
    * never join and no later batch repairs them.
    */
  def seedJoinDim(dim: DataFrame, root: String): Unit =
    graft.ops.Layout.writeStaged(dim.sparkSession, s"$root/right")(
      st => dim.write.parquet(st))

  /** Streaming twin of [[graft.etl.JsonEtl.joinUpsertAt]]: each
    * micro-batch of facts folds into the materialized join view at
    * `root` against the [[seedJoinDim]]-loaded dim — per batch, ONE
    * broadcast-join scan of the batch against the dim (the dim is never
    * shuffled, history never recomputed), committed exactly-once through
    * the multi-dir marker protocol. After N batches
    * `root/view` ≡ facts-so-far ⋈ dim (spec-pinned). The right side
    * stays static by contract; [[graft.etl.JsonEtl.joinUpsertAt]] is the
    * batch form for feeds where BOTH sides grow.
    */
  def joinIngestSink(facts: DataFrame, root: String, checkpoint: String,
      keys: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(facts, checkpoint) { (batch: DataFrame, batchId: Long) =>
        graft.etl.JsonEtl.joinUpsertLeftAt(batch.sparkSession, root, batch,
          batchId, keys)
    }

  /** Continuous DATA-drift monitoring — the streaming twin of
    * [[graft.ops.Profile.distributionDrift]] and the data-side sibling of
    * [[annIngestSink]]'s model-drift rows: each micro-batch's value
    * distribution is PSI-scored against a FROZEN
    * [[graft.ops.Profile.savePsiBaseline]] artifact (which names its own
    * value column, bucket geometry AND kind — numeric deciles or
    * categorical mix, so the sink can monitor an event-type share shift
    * with the same code and cannot bucket the wrong thing against the
    * artifact), and the full per-bucket report lands batch-tagged in
    * `auditDir` with a `drifted` verdict at the classic PSI > 0.25
    * threshold. The audit dir is the drift TIME SERIES an ops dashboard
    * trends (the [[expectationsSink]] discipline applied to
    * distributions, not row contracts); verdict rows are not
    * content-derived, so the sink commits through the exactly-once
    * protocol. Per-batch cost: one bucketing scan of the batch plus a
    * few-row join against the few-KB artifact. Batch ≡ stream parity and
    * the shifted-batch trip are spec-pinned (StreamingSpec).
    */
  def psiDriftSink(events: DataFrame, baselinePath: String,
      auditDir: String, checkpoint: String,
      trip: Double = 0.25): org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(events, checkpoint) { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch.sparkSession, auditDir, batchId)(
          auditDir -> { staging =>
            graft.ops.Profile.psiAgainstBaseline(
                batch.sparkSession, baselinePath, batch)
              .withColumn("batch_id", lit(batchId))
              .withColumn("drifted", col("psi_total") > lit(trip))
              .write.parquet(staging)
          })
    }
}
