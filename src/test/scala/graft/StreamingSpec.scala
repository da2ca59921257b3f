package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Event
import java.nio.file.Files
import java.sql.Timestamp
import graft.etl.StateKind._

class StreamingSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  // AvailableNow processes everything then terminates on its own —
  // processAllAvailable can spin forever when processing-time timeouts keep
  // scheduling wake-up batches.
  private val availableNow = org.apache.spark.sql.streaming.Trigger.AvailableNow()

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(availableNow).start()
    assert(q.awaitTermination(120000), s"stream $name did not finish"); q.stop()
  }

  test("streaming upsert emits only changed winners; late events fold in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(Event(ts(5), 1, "a", 1.0), Event(ts(9), 1, "b", 2.0),
      Event(ts(3), 2, "c", 3.0))
    val q = Streams.upsertLatest(in.toDS()).writeStream
      .format("memory").queryName("ups").outputMode("update").start()
    q.processAllAvailable()
    // batch 1: one winner per key
    val b1 = spark.table("ups").as[Event].collect()
    assert(b1.toSet === Set(Event(ts(9), 1, "b", 2.0), Event(ts(3), 2, "c", 3.0)))
    // batch 2: a LATE event for key 1 (older than its winner — no emit)
    // and a newer event for key 2 (winner changes — one emit)
    in.addData(Event(ts(7), 1, "late", 9.0), Event(ts(8), 2, "d", 4.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("ups").as[Event].collect()
    assert(all.length === 3, s"late non-winner must not re-emit: ${all.toSeq}")
    // the materialized view (last emission per key) equals the batch
    // latest-by-key fold over everything ingested
    val view = all.groupBy(_.userId).view
      .mapValues(_.maxBy(e => (e.ts.getTime, e.value, e.eventType))).toMap
    assert(view(1L) === Event(ts(9), 1, "b", 2.0))
    assert(view(2L) === Event(ts(8), 2, "d", 4.0))
  }

  test("windowed counts aggregate a stream per 5-minute window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(
      Event(ts(0), 1, "click", 1.0), Event(ts(1), 2, "click", 2.0),
      Event(ts(6), 1, "view", 3.0), Event(ts(7), 2, "click", 4.0))
    runToMemory(Streams.windowCounts(in.toDF()), "wc", mode = "complete")
    val out = spark.table("wc").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("eventType"), r.getAs[Long]("n"))).toSet
    assert(out === Set(
      ("2024-01-01 00:00:00.0", "click", 2L),
      ("2024-01-01 00:05:00.0", "view", 1L),
      ("2024-01-01 00:05:00.0", "click", 1L)))
  }

  test("streaming dedup drops duplicate (key, ts) within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(
      Event(ts(0), 1, "click", 1.0), Event(ts(0), 1, "click", 1.0),
      Event(ts(1), 1, "click", 9.0), Event(ts(1), 2, "click", 9.0))
    runToMemory(Streams.dedupe(in.toDF()), "dd")
    assert(spark.table("dd").count() === 3)
  }

  test("stateful sessionization closes sessions on gap and emits them") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // user 1: events at 0 and 10 min (one session), then 50 min (new session)
    in.addData(
      Event(ts(0), 1, "click", 1.0), Event(ts(10), 1, "view", 2.0),
      Event(ts(50), 1, "click", 4.0))
    val q = Streams.sessionize(in.toDS()).writeStream
      .format("memory").queryName("sess").outputMode("append")
      .trigger(availableNow).start()
    assert(q.awaitTermination(120000), "sessionize stream did not finish")
    val closed = spark.table("sess").as[Streams.Session].collect()
    q.stop()
    // the first session (0→10min) must have closed when the 50min event arrived
    assert(closed.exists(s =>
      s.userId == 1 && s.nEvents == 2 && s.endSec - s.startSec == 600))
  }

  test("sessionize: a late-but-admitted event widens the session bounds, never shrinks them") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // batch 1: session spans 0→10 min; the watermark after it sits at
    // 0 min (10 min delay), so batch 2's 5-min event is ADMITTED late
    // data that precedes the carried endSec — the regression overwrote
    // endSec with 300 s (end < start impossible here, but the close
    // timer re-armed 5 min early and a backwards endSec was emitted)
    in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(10), 1, "view", 2.0))
    in.addData(Event(ts(5), 1, "mid", 4.0))
    in.addData(Event(ts(50), 1, "click", 8.0)) // closes session 1
    val q = Streams.sessionize(in.toDS()).writeStream
      .format("memory").queryName("sess_late").outputMode("append")
      .trigger(availableNow).start()
    assert(q.awaitTermination(120000), "sessionize stream did not finish")
    q.stop()
    val closed = spark.table("sess_late").as[Streams.Session].collect()
    closed.foreach(s => assert(s.endSec >= s.startSec,
      s"session bounds must never run backwards: $s"))
    val base = ts(0).getTime / 1000
    assert(closed.exists(s => s.userId == 1 && s.nEvents == 3 &&
      s.startSec == base && s.endSec == base + 600 && s.sumValue == 7.0),
      s"late event must fold into the session without shrinking it: " +
        closed.mkString(", "))
  }

  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("transformWithState twin emits the same sessions as flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withConf("spark.sql.streaming.stateStore.providerClass", rocksdb) {
      val in = MemoryStream[Event]
      in.addData(
        Event(ts(0), 1, "click", 1.0), Event(ts(10), 1, "view", 2.0),
        Event(ts(50), 1, "click", 4.0))
      val q = Streams.sessionizeTws(in.toDS()).writeStream
        .format("memory").queryName("sess_tws").outputMode("append")
        .trigger(availableNow).start()
      assert(q.awaitTermination(120000), "tws stream did not finish")
      q.stop()
      val tws = spark.table("sess_tws").as[Streams.Session].collect().toSet
      // the FMGWS twin on the identical input (its own suite covers it
      // standalone; here it is the parity oracle)
      val in2 = MemoryStream[Event]
      in2.addData(
        Event(ts(0), 1, "click", 1.0), Event(ts(10), 1, "view", 2.0),
        Event(ts(50), 1, "click", 4.0))
      val q2 = Streams.sessionize(in2.toDS()).writeStream
        .format("memory").queryName("sess_fmgws").outputMode("append")
        .trigger(availableNow).start()
      assert(q2.awaitTermination(120000), "fmgws stream did not finish")
      q2.stop()
      val fmgws = spark.table("sess_fmgws").as[Streams.Session].collect().toSet
      assert(tws === fmgws, "the two state APIs must close identical sessions")
      assert(tws.exists(s => s.userId == 1 && s.nEvents == 2
        && s.endSec - s.startSec == 600))
    }
  }

  test("transformWithState extends a session across batches: stale timer replaced, one emission") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withConf("spark.sql.streaming.stateStore.providerClass", rocksdb) {
      val in = MemoryStream[Event]
      in.addData(Event(ts(0), 1, "click", 1.0))
      val q = Streams.sessionizeTws(in.toDS()).writeStream
        .format("memory").queryName("sess_extend").outputMode("append").start()
      q.processAllAvailable()
      // batch 2 re-enters handleInputRows for user 1 with a LIVE timer
      // from batch 1 (close at min 30) — the listTimers/deleteTimer
      // replacement path runs against RocksDB here, nowhere else
      in.addData(Event(ts(10), 1, "view", 2.0))
      q.processAllAvailable()
      // batch 3 pushes the watermark past the REPLACED close (min 40)
      in.addData(Event(ts(60), 2, "click", 9.0))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("sess_extend").count() == 0
          && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      val closed = spark.table("sess_extend").as[Streams.Session].collect()
      q.stop()
      // the two batches merged into ONE session, emitted exactly once —
      // a leaked stale timer would risk an extra (empty-state) expiry or
      // a premature min-30 close splitting the session
      assert(closed.count(_.userId == 1) === 1,
        s"expected one closed session for user 1, got ${closed.toSeq}")
      val s1 = closed.find(_.userId == 1).get
      assert(s1.nEvents === 2 && s1.endSec - s1.startSec === 600)
    }
  }

  test("transformWithState evicts session state once the watermark passes its close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withConf("spark.sql.streaming.stateStore.providerClass", rocksdb) {
      val in = MemoryStream[Event]
      in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(10), 1, "view", 2.0))
      val q = Streams.sessionizeTws(in.toDS()).writeStream
        .format("memory").queryName("sess_evict").outputMode("append").start()
      q.processAllAvailable()
      // user 1's session (ends min 10, gap 30 → timer at min 40) holds one
      // state row until the watermark passes it; user 2's event at min 60
      // pushes the watermark to min 50 and MUST fire the timer
      in.addData(Event(ts(60), 2, "click", 9.0))
      q.processAllAvailable()
      // the timer fires in the no-data batch after the watermark advance —
      // poll until the closed session lands in the sink
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("sess_evict").count() == 0
          && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      val closed = spark.table("sess_evict").as[Streams.Session].collect()
      assert(closed.exists(s => s.userId == 1 && s.nEvents == 2),
        "watermark advance must close and emit the idle session")
      // eviction pinned by the operator metrics: only user 2's live
      // session remains in the store
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      q.stop()
      assert(lastState.numRowsTotal === 1,
        s"state must hold exactly the one live session, got ${lastState.numRowsTotal}")
    }
  }

  test("watermark drops events later than the horizon in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // batch 1 advances the watermark far ahead (event at 60 min, 10-min delay)
    in.addData(Event(ts(0), 1, "click", 1.0))
    val q = Streams.windowCounts(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    q.processAllAvailable()
    in.addData(Event(Timestamp.valueOf("2024-01-01 01:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: an event 40 minutes behind the watermark — must be dropped
    in.addData(Event(ts(10), 9, "late-click", 99.0))
    q.processAllAvailable()
    // close remaining windows by pushing the watermark forward
    in.addData(Event(Timestamp.valueOf("2024-01-01 02:00:00"), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val types = spark.table("late").collect().map(_.getAs[String]("eventType")).toSet
    assert(!types.contains("late-click"), "late event leaked past the watermark")
  }

  test("stream-static join enriches events with dimension attributes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("userId", "tier")
    val in = MemoryStream[Event]
    in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(1), 3, "click", 2.0))
    runToMemory(Streams.enrich(in.toDF(), dim, "userId"), "enr")
    val out = spark.table("enr").collect()
      .map(r => r.getAs[Long]("userId") -> Option(r.getAs[String]("tier"))).toMap
    assert(out === Map(1L -> Some("gold"), 3L -> None))
  }

  test("stream-stream join attributes purchases to in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(ts(0), 1, "click", 0.0),   // 5 min before user 1's purchase → attributed
      Event(ts(30), 2, "click", 0.0))  // AFTER user 2's purchase → not attributed
    purchases.addData(
      Event(ts(5), 1, "purchase", 10.0),
      Event(ts(4), 2, "purchase", 20.0))
    runToMemory(Streams.streamStreamAttribution(
      purchases.toDF(), clicks.toDF()), "attr")
    val out = spark.table("attr").collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Timestamp]("c_ts").toString))
    // user 1: click at 00:00 within 10 min before the 00:05 purchase ✓
    // user 2: only click is AFTER the purchase → no attribution
    assert(out.toSeq === Seq((1L, "2024-01-01 00:00:00.0")))
  }

  test("streaming incremental dedup drops corpus dups and in-stream dups") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq("existing doc one", "existing doc two")
      .toDF("text")
      .select(md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("text_md5"))
    val in = MemoryStream[(Timestamp, Long, String)]
    in.addData(
      (ts(0), 1L, "Existing   DOC one"),   // normalizes to a corpus hash → dropped
      (ts(1), 2L, "a brand new document"), // novel → kept
      (ts(2), 3L, "a brand  NEW document"),// in-stream dup of doc 2 → dropped
      (ts(3), 4L, "another novel text"))   // novel → kept
    val docs = in.toDF().toDF("ts", "docId", "text")
    runToMemory(Streams.incrementalDedup(docs, corpus), "incdd")
    val kept = spark.table("incdd").collect().map(_.getAs[Long]("docId")).toSet
    assert(kept === Set(2L, 4L))
  }

  test("streaming multi-sink fans one stream out to N parquet sinks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sink").toString
    val in = MemoryStream[Event]
    in.addData(
      Event(ts(0), 1, "purchase", 10.0), Event(ts(1), 2, "click", 1.0),
      Event(ts(2), 3, "purchase", 20.0))
    val q = Streams.multiSink(in.toDF(), dir, Map(
      "purchases" -> (col("eventType") === "purchase"),
      "clicks"    -> (col("eventType") === "click")), s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$dir/purchases").count() === 2)
    assert(spark.read.parquet(s"$dir/clicks").count() === 1)
  }

  test("streaming curation gate emits exactly what the batch gate emits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (0L, "src0", "en", "the fast sort of the data and the table is in order"),
      (1L, "src1", "en", "zz zz zz zz zz zz zz zz zz zz"), // no stopwords → gated
      (2L, "src0", "xx", "the quick a of and to"), // lang not allowed
      (3L, "src1", "en", "mail me at a.b@example.com about the sort of the data"),
      (4L, "src2", "de", "der die das und ein ist zu the a of and to in is"))
    val cols = Seq("doc_id", "source", "lang", "text")
    val bps = Map("src0" -> 10000, "src1" -> 10000)
    val gate = (df: org.apache.spark.sql.DataFrame) =>
      Streams.curateGate(df, bps = bps, defaultBps = 5000)
    val batch = gate(docs.toDF(cols: _*)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    val in = MemoryStream[(Long, String, String, String)]
    in.addData(docs: _*)
    runToMemory(gate(in.toDF().toDF(cols: _*)), "cg")
    val streamed = spark.table("cg").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(streamed === batch,
      "a stateless gate must emit identical rows under readStream")
    assert(batch.map(_._1).contains(0L) && !batch.map(_._1).contains(1L)
      && !batch.map(_._1).contains(2L))
    // the PII scrub ran inside the stream
    val doc3 = streamed.find(_._1 == 3L)
    doc3.foreach { case (_, t) => assert(t.contains("<EMAIL>") && !t.contains("example.com")) }
  }

  test("decontamination gate: stream drops exactly the batch-flagged docs (shared bloom core)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((100L, "x a b c d e f y"))
      .toDF("doc_id", "text") // bench grams: the 5-grams of this doc
    val bloom = graft.ops.TextAnalysis.buildBenchmarkBloom(bench)
    val corpus = Seq(
      (1L, "a b c d e f g"),                            // shares grams → dropped
      (2L, "totally different words over here indeed"), // clean → kept
      (3L, "tiny doc"))                                 // <5 words → kept
    val cols = Seq("doc_id", "text")
    val gate = (df: org.apache.spark.sql.DataFrame) =>
      Streams.decontaminateStream(df, bloom)
    val batchKept = gate(corpus.toDF(cols: _*)).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val in = MemoryStream[(Long, String)]
    in.addData(corpus: _*)
    runToMemory(gate(in.toDF().toDF(cols: _*)), "decon")
    val streamKept = spark.table("decon").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(streamKept === batchKept,
      "a stateless gate must drop identical rows under readStream")
    assert(batchKept === Set(2L, 3L),
      "the contaminated doc is dropped, clean and too-short docs survive")
  }

  test("bus contract end-to-end: connector schema -> tolerant parse -> aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("amount", DoubleType)))
    val in = MemoryStream[String]
    in.addData(
      """{"user": 1, "amount": 10.5}""",
      """{"user": 2, "amount": 3.0}""",
      """not json at all{{""",
      """{"user": 1, "amount": 2.5}""")
    val bus = Streams.busFrom(in.toDF().toDF("value"), "events")
    // the bus frame carries the connector's exact schema
    assert(bus.schema.map(f => (f.name, f.dataType.typeName)) === Seq(
      ("key", "binary"), ("value", "binary"), ("topic", "string"),
      ("partition", "integer"), ("offset", "long"),
      ("timestamp", "timestamp"), ("timestampType", "integer")))
    runToMemory(Streams.parseBus(bus, schema), "bus")
    val rows = spark.table("bus").collect()
    assert(rows.length === 4)
    assert(rows.forall(_.getAs[String]("topic") == "events"))
    val good = rows.filter(_.getAs[String]("_corrupt") == null)
    assert(good.length === 3)
    assert(good.map(_.getAs[Double]("amount")).sum === 16.0)
    val bad = rows.filter(_.getAs[String]("_corrupt") != null)
    assert(bad.length === 1 && bad.head.getAs[String]("_corrupt").startsWith("not json"))
    assert(bad.head.isNullAt(bad.head.fieldIndex("user")),
      "a corrupt payload parses to null columns, never a failed batch")
  }

  test("streaming chunker emits exactly the batch chunks (stateless explode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 130).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 50).map(i => s"w$i").mkString(" ")),
      (3L, "tiny doc"))
    val cols = Seq("doc_id", "text")
    val batch = graft.ops.TextAnalysis.chunkDocuments(docs.toDF(cols: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    runToMemory(Streams.chunkStream(in.toDF().toDF(cols: _*)), "ck")
    val streamed = spark.table("ck").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch,
      "a stateless chunker must emit identical rows under readStream")
    assert(streamed.count(_._1 == 1L) === 3)
  }

  test("dedup ingest sink: streamed batches fold into an index ≡ batch-built; pairs ≡ full LSH") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ingest").toString
    val docsAll = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestSink(in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    // three arrival days, each one micro-batch
    (0 until 3).foreach { b =>
      in.addData(docsAll.filter(_._1 % 3 == b).toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // the streamed index is EXACTLY the batch-built index over the same
    // corpus — streaming ingest kept the living index current
    graft.ops.Dedup.saveMinhashIndex(spark,
      spark.read.parquet(s"$sf/documents.parquet"), s"$base/batch_index")
    def sigs(p: String): Map[Long, Seq[Long]] =
      graft.ops.Dedup.loadMinhashIndex(spark, p)
        .select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(s"$base/index") == sigs(s"$base/batch_index"))
    // every near-dup pair surfaced exactly when its later member arrived:
    // the union of per-batch pair outputs is the full-corpus LSH pair set
    val streamedPairs = spark.read.parquet(s"$base/pairs")
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairsOf(graft.ops.Dedup.minhashLsh(spark, sf))
    assert(full.nonEmpty)
    assert(streamedPairs === full)
    // replayed batch ids are skipped whole (the marker guard): re-adding
    // day 0's docs under an already-committed batch id is a no-op — the
    // stream was stopped, so restart replays from the checkpoint
    val sizeBefore = graft.ops.Dedup.loadMinhashIndex(spark, s"$base/index").count()
    val in2 = MemoryStream[(Long, String)]
    in2.addData(docsAll.filter(_._1 % 3 == 0).toIndexedSeq: _*)
    val q2 = Streams.dedupIngestSink(in2.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt2")
    q2.processAllAvailable(); q2.stop()
    // ckpt2 restarts batch ids at 0 — already marked — so nothing re-folds
    assert(graft.ops.Dedup.loadMinhashIndex(spark, s"$base/index").count()
      === sizeBefore)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("components ingest sink: the live component table ≡ a full-corpus recompute; refold is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_comp_ingest").toString
    val docsAll = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.componentsIngestSink(in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/labels", s"$base/ckpt")
    (0 until 3).foreach { b =>
      in.addData(docsAll.filter(_._1 % 3 == b).toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // after N folds the persisted table is EXACTLY the full-corpus
    // labeling — no full recompute ever ran, yet nothing diverges
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("canonical_id"))).toMap
    val streamed = labelMap(spark.read.parquet(s"$base/labels"))
    val full = graft.ops.Dedup.nearDupGroups(
      graft.ops.Dedup.minhashLsh(spark, sf), 10)
    val expected = labelMap(full)
    full.unpersist()
    assert(streamed.nonEmpty)
    assert(streamed === expected)
    // the crash-window argument: re-folding pairs the labeling already
    // absorbed changes nothing (components(labels ∪ p) = components(labels))
    val somePairs = spark.read.parquet(s"$base/pairs")
      .filter(col("batch_id") === 2L).select(col("d1"), col("d2"))
    val refolded = graft.ops.Dedup.nearDupGroupsIncremental(
      spark.read.parquet(s"$base/labels"), somePairs)
    val refoldedMap = labelMap(refolded)
    refolded.unpersist()
    assert(refoldedMap === streamed)
  }

  test("living corpus end-to-end: streamed pairs feed the funnel; export manifests the result") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_e2e").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val docsAll = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestSink(in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    (0 until 3).foreach { b =>
      in.addData(docsAll.filter(_._1 % 3 == b).toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // the curation funnel consumes the STREAMED pairs artifact in place
    // of inline LSH — the composition a real deployment runs nightly —
    // and produces EXACTLY the one-shot funnel's corpus (streamed pairs
    // ≡ full-corpus LSH is pinned above; this pins that the composition
    // seam loses nothing)
    def packed(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedPairs = spark.read.parquet(s"$base/pairs")
      .select(col("d1"), col("d2"))
    val fromStream = packed(graft.ops.Curation.prepareCorpus(
      spark, sf, pairs = Some(streamedPairs)))
    val oneShot = packed(graft.ops.Curation.prepareCorpus(spark, sf))
    assert(fromStream.nonEmpty && fromStream === oneShot)
    // ...and the training handoff: export the curated docs, manifest
    // consistent with both the funnel output and the read-back
    val curatedDocs = docs.join(
      graft.ops.Curation.prepareCorpus(spark, sf, pairs = Some(streamedPairs))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    graft.ops.TextAnalysis.exportShards(curatedDocs, s"$base/export", 4)
    val manifest = spark.read.parquet(s"$base/export/_manifest")
    assert(manifest.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === fromStream.size.toLong)
    assert(spark.read.parquet(s"$base/export").count() === fromStream.size.toLong)
  }

  test("agg ingest sink: N micro-batches fold to the one-shot aggregate, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_agg_sink").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.aggIngestSink(in.toDF().toDF("user_id", "event_type", "value"),
      s"$base/state", s"$base/ckpt")
    val b0 = Seq((1L, "view", 2.0), (1L, "click", 3.5), (2L, "view", 1.0))
    val b1 = Seq((1L, "view", 4.0), (2L, "view", -2.5), (3L, "buy", 9.99))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val state = spark.read.parquet(s"$base/state")
    val oneShot = graft.etl.JsonEtl.aggState((b0 ++ b1)
      .toDF("user_id", "event_type", "value"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id"), col("event_type")).collect().toSeq
    assert(key(state) === key(oneShot))
    assert(graft.etl.JsonEtl.aggFoldWatermark(spark, s"$base/state") === 1L)
  }

  test("join ingest sink: streamed facts ⋈ seeded dim equals the one-shot join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_join_sink").toString
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("cust_id", "tier")
    Streams.seedJoinDim(dim, s"$base/jv")
    val in = MemoryStream[(Long, Long, Double)]
    val q = Streams.joinIngestSink(
      in.toDF().toDF("order_id", "cust_id", "total"),
      s"$base/jv", s"$base/ckpt", Seq("cust_id"))
    val b0 = Seq((10L, 1L, 5.0), (11L, 2L, 7.5), (12L, 9L, 1.0)) // 9: no dim
    val b1 = Seq((13L, 1L, 2.0), (14L, 3L, 4.0))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val facts = (b0 ++ b1).toDF("order_id", "cust_id", "total")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(facts.join(dim, Seq("cust_id"))))
    // the accumulated left side is exactly the delivered facts — the
    // state a later two-sided batch fold would need
    assert(key(spark.read.parquet(s"$base/jv/left")) === key(facts))
  }

  test("distinct ingest sink: N micro-batches fold to the one-shot sketch, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_distinct_sink").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.stateIngestSink(
      in.toDF().toDF("user_id", "event_type", "value"),
      s"$base/state", s"$base/ckpt", Distinct())
    val b0 = (0L until 500L).map(i => (i % 37, if (i % 2 == 0) "view" else "click", 1.0))
    val b1 = (0L until 500L).map(i => (i % 61, if (i % 3 == 0) "view" else "buy", 1.0))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val est = graft.etl.JsonEtl.distinctEstimate(
      spark.read.parquet(s"$base/state")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("distinct_est")).toMap
    val exact = (b0 ++ b1).toDF("user_id", "event_type", "value")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // tiny cardinalities sit in the sketch's exact (list/set) range
    assert(est === exact)
    assert(graft.etl.JsonEtl.aggFoldWatermark(spark, s"$base/state") === 1L)
  }

  test("sample ingest sink: micro-batches fold to the one-shot bottom-k sample, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sample_sink").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.stateIngestSink(
      in.toDF().toDF("user_id", "event_type", "value"),
      s"$base/state", s"$base/ckpt", Sample(k = 8))
    val b0 = (0L until 500L).map(i => (i % 37, if (i % 2 == 0) "view" else "click", 1.0))
    val b1 = (0L until 500L).map(i => (i % 61, if (i % 3 == 0) "view" else "buy", 1.0))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("rank")).collect().toSeq
    // streamed state ≡ one-shot over everything delivered, bit-for-bit
    // (the set identity + hash determinism — no RNG state to diverge)
    assert(key(spark.read.parquet(s"$base/state"))
      === key(graft.etl.JsonEtl.sampleState(
        (b0 ++ b1).toDF("user_id", "event_type", "value"), k = 8)))
    assert(graft.etl.JsonEtl.aggFoldWatermark(spark, s"$base/state") === 1L)
    assert(graft.etl.JsonEtl.stateMeta(spark, s"$base/state")("kind")
      === "sample")
  }

  test("windowed sketch ingest sinks: micro-batches fold to the one-shot windowed views, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_wsk_sink").toString
    // days span 30 with retention 14 — expiry fires inside the stream
    val b0 = (0L until 600L).map(i =>
      (i % 37, if (i % 2 == 0) "view" else "click", i % 30))
    val b1 = (0L until 600L).map(i =>
      (i % 61, if (i % 3 == 0) "view" else "buy", (i * 7) % 30))
    val all = (b0 ++ b1).toDF("user_id", "event_type", "day")

    val in = MemoryStream[(Long, String, Long)]
    val q = Streams.stateIngestSink(
      in.toDF().toDF("user_id", "event_type", "day"),
      s"$base/d", s"$base/ckptd", Windowed(Distinct(), retainDays = 14))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val st = spark.read.parquet(s"$base/d")
    assert(st.select(col("day")).distinct().count() <= 14L,
      "retention must bound the streamed state")
    val got = Windowed(Distinct()).view(st, 7)
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("distinct_est"))).toSeq
    val exact = all.filter(col("day") > lit(29L - 7L))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === exact, "trailing-7-day view ≡ exact windowed distinct")
    assert(graft.etl.JsonEtl.aggFoldWatermark(spark, s"$base/d") === 1L)
    assert(graft.etl.JsonEtl.stateMeta(spark, s"$base/d")("kind")
      === "distinct_windowed")

    val in2 = MemoryStream[(Long, String, Long)]
    val q2 = Streams.stateIngestSink(
      in2.toDF().toDF("user_id", "event_type", "day"),
      s"$base/a", s"$base/ckpta", Windowed(Audience(), retainDays = 14))
    in2.addData(b0: _*); q2.processAllAvailable()
    in2.addData(b1: _*); q2.processAllAvailable()
    q2.stop()
    val ast = spark.read.parquet(s"$base/a")
    assert(ast.select(col("day")).distinct().count() <= 14L)
    def overlap(df: org.apache.spark.sql.DataFrame) =
      Windowed(Audience()).view(df, 7)
        .orderBy(col("a"), col("b")).collect().toSeq
    assert(overlap(ast) === overlap(
      Windowed(Audience(), retainDays = 14).state(all)),
      "stream ≡ batch windowed overlap (both exact below capacity)")
    assert(graft.etl.JsonEtl.stateMeta(spark, s"$base/a")("kind")
      === "audience_windowed")
  }

  test("remaining windowed ingest sinks: sample/quantile/freq streams equal their batch folds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_wsink3").toString
    val b0 = (0L until 600L).map(i =>
      (i % 37, if (i % 2 == 0) "view" else "click", (i % 97).toDouble, i % 30))
    val b1 = (0L until 600L).map(i =>
      (i % 61, if (i % 3 == 0) "view" else "buy", (i % 89).toDouble, (i * 7) % 30))
    val all = (b0 ++ b1).toDF("user_id", "event_type", "value", "day")
    def stream(name: String,
        mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val in = MemoryStream[(Long, String, Double, Long)]
      val q = mk(in.toDF().toDF("user_id", "event_type", "value", "day"))
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      q.stop()
    }
    stream("s", df => Streams.stateIngestSink(df, s"$base/s", s"$base/cs",
      Windowed(Sample(k = 8), retainDays = 14)))
    stream("q", df => Streams.stateIngestSink(df, s"$base/q", s"$base/cq",
      Windowed(Quantile(), retainDays = 14)))
    stream("f", df => Streams.stateIngestSink(df, s"$base/f", s"$base/cf",
      Windowed(Freq(), retainDays = 14)))
    // sample: bit-exact vs the batch fold (deterministic algebra)
    def skey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("day"), col("rank")).collect().toSeq
    assert(skey(spark.read.parquet(s"$base/s"))
      === skey(Windowed(Sample(k = 8), retainDays = 14).state(all)))
    // quantile: exact n_rows per (key, day); estimates by its own family
    val qn = spark.read.parquet(s"$base/q")
      .select(col("event_type"), col("day"), col("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq
    assert(qn === Windowed(Quantile(), retainDays = 14).state(all)
      .select(col("event_type"), col("day"), col("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq)
    // freq: ranked window view equals the batch fold's (exact regime)
    def fkey(df: org.apache.spark.sql.DataFrame) =
      Windowed(Freq()).view(df, 7)
        .orderBy(col("event_type"), col("rank")).collect().toSeq
    assert(fkey(spark.read.parquet(s"$base/f"))
      === fkey(Windowed(Freq(), retainDays = 14).state(all)))
    Seq(s"$base/s" -> "sample_windowed", s"$base/q" -> "quantile_windowed",
      s"$base/f" -> "freq_windowed").foreach { case (p, kind) =>
      assert(graft.etl.JsonEtl.stateMeta(spark, p)("kind") === kind) }
  }

  test("quantile ingest sink: micro-batches fold to in-envelope estimates, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_quant_sink").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.stateIngestSink(
      in.toDF().toDF("user_id", "event_type", "value"),
      s"$base/state", s"$base/ckpt", Quantile())
    val b0 = (0 until 1000).map(i => (i.toLong, "view", i.toDouble))
    val b1 = (1000 until 2000).map(i => (i.toLong, "view", i.toDouble))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val st = spark.read.parquet(s"$base/state")
    assert(st.agg(sum(col("n_rows"))).head.getLong(0) === 2000L)
    val r = graft.etl.JsonEtl.quantileEstimates(st).head()
    // values are 0..1999 uniform — p50 ≈ 1000, p99 ≈ 1980 (4% rank slack)
    assert(math.abs(r.getAs[Double]("p50") - 1000.0) <= 80.0)
    assert(math.abs(r.getAs[Double]("p99") - 1980.0) <= 80.0)
    assert(graft.etl.JsonEtl.aggFoldWatermark(spark, s"$base/state") === 1L)
  }

  test("psi drift sink: in-distribution batch stable, shifted batch trips; batch ≡ stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_psi_sink").toString
    // frozen baseline: values 0..99 uniform
    graft.ops.Profile.savePsiBaseline(
      spark.range(4000).select(col("id").as("doc_id"), (col("id") % 100).as("v")),
      s"$base/baseline", valueCol = "v")
    val in = MemoryStream[(Long, Long)]
    val q = Streams.psiDriftSink(in.toDF().toDF("doc_id", "v"),
      s"$base/baseline", s"$base/audit", s"$base/ckpt")
    val b0 = (0L until 2000L).map(i => (i, i % 100))        // in-distribution
    val b1 = (0L until 2000L).map(i => (i, i % 100 + 60L))  // shifted +60
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val audit = spark.read.parquet(s"$base/audit")
    assert(audit.count() === 20) // 10 buckets × 2 batches
    def psiOf(bid: Long): (Double, Boolean) = {
      val r = audit.filter(col("batch_id") === bid).head()
      (r.getAs[Double]("psi_total"), r.getAs[Boolean]("drifted"))
    }
    val (stablePsi, stableDrifted) = psiOf(0L)
    val (shiftPsi, shiftDrifted) = psiOf(1L)
    assert(stablePsi < 0.02 && !stableDrifted,
      s"in-distribution batch must read stable: $stablePsi")
    assert(shiftPsi > 0.25 && shiftDrifted,
      s"a +60 shift must trip the 0.25 threshold: $shiftPsi")
    // the streamed report IS the batch form on the same rows (shared core)
    val batchForm = graft.ops.Profile.psiAgainstBaseline(spark,
      s"$base/baseline", b1.toDF("doc_id", "v")).collect()
    val streamed = audit.filter(col("batch_id") === 1L)
      .drop("batch_id", "drifted").orderBy(col("bucket")).collect()
    batchForm.zip(streamed).foreach { case (b, s) => assert(b === s) }
  }

  test("psi drift sink over a CATEGORICAL baseline: stable mix stable, collapsed mix trips; batch ≡ stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_psi_cat_sink").toString
    // frozen categorical baseline: four categories, uniform mix — the
    // artifact's `kind` routes the sink through the categorical math
    graft.ops.Profile.savePsiBaseline(
      spark.range(4000).select(col("id").as("doc_id"),
        concat(lit("c"), col("id") % 4).as("cat")),
      s"$base/baseline", valueCol = "cat", categorical = true)
    val in = MemoryStream[(Long, String)]
    val q = Streams.psiDriftSink(in.toDF().toDF("doc_id", "cat"),
      s"$base/baseline", s"$base/audit", s"$base/ckpt")
    val b0 = (0L until 2000L).map(i => (i, s"c${i % 4}")) // same mix
    val b1 = (0L until 2000L).map(i => (i, s"c${i % 2}")) // collapsed onto half
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val audit = spark.read.parquet(s"$base/audit")
    assert(audit.count() === 8) // 4 categories × 2 batches
    def psiOf(bid: Long): (Double, Boolean) = {
      val r = audit.filter(col("batch_id") === bid).head()
      (r.getAs[Double]("psi_total"), r.getAs[Boolean]("drifted"))
    }
    val (stablePsi, stableDrifted) = psiOf(0L)
    val (shiftPsi, shiftDrifted) = psiOf(1L)
    assert(stablePsi < 0.02 && !stableDrifted,
      s"an identical category mix must read stable: $stablePsi")
    assert(shiftPsi > 0.25 && shiftDrifted,
      s"half the categories vanishing must trip: $shiftPsi")
    // the streamed report IS the batch form on the same rows (shared core)
    val batchForm = graft.ops.Profile.psiAgainstBaseline(spark,
      s"$base/baseline", b1.toDF("doc_id", "cat")).collect()
    val streamed = audit.filter(col("batch_id") === 1L)
      .drop("batch_id", "drifted").orderBy(col("category")).collect()
    batchForm.zip(streamed).foreach { case (b, s) => assert(b === s) }
  }

  test("expectations sink: per-batch contract verdicts match the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_exp_sink").toString
    val checks = Seq(
      ("name_complete", col("name").isNull, 0L),
      ("amount_positive", col("amount") <= 0, 1L))
    val keys = Seq(("id_unique", col("id"), 0L))
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.expectationsSink(in.toDF().toDF("id", "name", "amount"),
      checks, keys, s"$base/audit", s"$base/ckpt")
    val b0 = Seq((1L, "a", 1.0), (2L, "b", 2.0))          // clean
    val b1 = Seq((3L, null.asInstanceOf[String], -1.0),   // dirty
      (3L, "d", 4.0))
    in.addData(b0: _*); q.processAllAvailable()
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val audit = spark.read.parquet(s"$base/audit")
    assert(audit.count() === 6) // 3 checks × 2 batches
    def verdicts(bid: Long): Map[String, (Long, Boolean)] =
      audit.filter(col("batch_id") === bid).collect()
        .map(r => r.getAs[String]("check") ->
          (r.getAs[Long]("violations"), r.getAs[Boolean]("passed"))).toMap
    assert(verdicts(0L) === Map("name_complete" -> (0L, true),
      "amount_positive" -> (0L, true), "id_unique" -> (0L, true)))
    // batch 1: one null name (budget 0 → fail), one non-positive amount
    // (budget 1 → pass), one duplicate id (budget 0 → fail)
    assert(verdicts(1L) === Map("name_complete" -> (1L, false),
      "amount_positive" -> (1L, true), "id_unique" -> (1L, false)))
    // the streamed verdicts ARE the batch form's output on the same rows
    val batchForm = graft.etl.Expectations
      .expectations(b1.toDF("id", "name", "amount"), checks, keys)
      .collect().map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("violations"), r.getAs[Boolean]("passed"))).toMap
    assert(batchForm === verdicts(1L))
  }

  test("quarantine sink: clean/dead-letter routing per batch, replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_dlq").toString
    val checks = Seq(
      ("name_complete", col("name").isNull, 0L),
      ("amount_positive", col("amount") <= 0, 0L))
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.quarantineSink(in.toDF().toDF("id", "name", "amount"),
      checks, s"$base/clean", s"$base/dlq", s"$base/ckpt")
    in.addData((1L, "a", 1.0), (2L, null.asInstanceOf[String], 2.0))
    q.processAllAvailable()
    in.addData((3L, "c", -5.0), (4L, "d", 4.0))
    q.processAllAvailable()
    q.stop()
    val clean = spark.read.parquet(s"$base/clean")
    assert(clean.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 4L))
    assert(clean.columns.toSet === Set("id", "name", "amount"))
    val dlq = spark.read.parquet(s"$base/dlq").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Seq[String]]("violated").sorted, r.getAs[Long]("batch_id")))
      .toMap
    assert(dlq === Map(
      2L -> (Seq("name_complete"), 0L),
      3L -> (Seq("amount_positive"), 1L)))
    // a restarted checkpoint re-delivering batch 0 appends nothing
    val before = clean.count() + spark.read.parquet(s"$base/dlq").count()
    val in2 = MemoryStream[(Long, String, Double)]
    in2.addData((1L, "a", 1.0), (2L, null.asInstanceOf[String], 2.0))
    val q2 = Streams.quarantineSink(in2.toDF().toDF("id", "name", "amount"),
      checks, s"$base/clean", s"$base/dlq", s"$base/ckpt2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$base/clean").count()
      + spark.read.parquet(s"$base/dlq").count() === before)
  }

  test("ann ingest sink: streamed batches encode against frozen models; index ≡ batch-built; drift rows per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{AnnModel, AnnSpec, Similarity}
    val base = Files.createTempDirectory("graft_ann_ingest").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // corpus build on 3/4 + baseline — the frozen artifact the stream
    // appends against
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = s"$base/index"
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    Similarity.saveIndex(ip, AnnSpec.Ivfpq, AnnModel(None, Some(cents), Some(cb),
      Some(Similarity.buildIvfpqIndex(corpus, cents, cb))))
    Similarity.recordDriftBaseline(spark, ip, corpus, cb, Some(cents))
    // the held-out quarter arrives as two micro-batches
    val day = e.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.annIngestSink(in.toDF().toDF("vec_id", "embedding"),
      ip, s"$base/ckpt")
    Seq(day.filter(_._1 % 8 == 0), day.filter(_._1 % 8 != 0)).foreach { b =>
      in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // codes are per-vector functions of the frozen models: the streamed
    // index is EXACTLY the batch-built index over the full corpus
    def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    val streamed = Similarity.openIndex(spark, ip)._2.codes.get
    val expect = codeSet(Similarity.buildIvfpqIndex(e, cents, cb))
    assert(codeSet(streamed) === expect)
    // the drift time series accumulated one in-distribution row per batch
    val rep = Similarity.driftReport(spark, ip).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Boolean]("drifted"), r.getAs[Long]("n_vecs"))).toMap
    assert(rep.keySet === Set(0L, 1L))
    assert(rep.values.map(_._2).sum === day.length.toLong)
    assert(rep.values.forall(!_._1), s"in-distribution appends must not trip: $rep")
    // crash replay: marker gone but files landed (the worst window) — the
    // replay REPLACES batch 0's file set; duplicate code rows would break
    // the ADC n_subs = m completeness filter, so set equality is the proof
    val fs = new org.apache.hadoop.fs.Path(ip)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${ip}_batches/0"), false)
    val in2 = MemoryStream[(Long, Array[Float])]
    in2.addData(day.filter(_._1 % 8 == 0).toIndexedSeq: _*)
    val q2 = Streams.annIngestSink(in2.toDF().toDF("vec_id", "embedding"),
      ip, s"$base/ckpt2")
    q2.processAllAvailable(); q2.stop()
    val replayed = Similarity.openIndex(spark, ip)._2.codes.get
    assert(codeSet(replayed) === expect, "replay must replace, not duplicate")
    assert(Similarity.driftReport(spark, ip).count() === 2,
      "drift rows must not duplicate either")
  }

  test("sink batch commits: partial-append crash replays leave no duplicate rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_commit").toString
    val dir = s"$base/audit"
    def write(rows: Seq[(Long, String)])(staging: String): Unit =
      rows.toDF("id", "tag").repartition(2).write.parquet(staging)
    Streams.commitBatch(spark, dir, 0L)(dir -> write(Seq(1L -> "a", 2L -> "b")))
    assert(spark.read.parquet(dir).count() === 2)
    // crash simulation: batch 0's files all landed but the marker never
    // did (the worst at-least-once window — plain append would now
    // double every row on replay)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${dir}_batches/0"), false)
    Streams.commitBatch(spark, dir, 0L)(dir -> write(Seq(1L -> "a", 2L -> "b")))
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set(1L -> "a", 2L -> "b"),
      "a replayed batch must REPLACE its file set, not append a second copy")
    // with the marker present the batch skips whole — the write fn never runs
    var ran = false
    Streams.commitBatch(spark, dir, 0L)(
      dir -> { st => ran = true; write(Seq(9L -> "x"))(st) })
    assert(!ran, "a committed batch id must be a no-op")
    // a later batch lands beside it
    Streams.commitBatch(spark, dir, 1L)(dir -> write(Seq(3L -> "c")))
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("sink dir compaction: bounded files, content identical, uncommitted partials dropped") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sinkcompact").toString
    val dir = s"$base/pairs"
    (0 until 12).foreach { b =>
      Streams.commitBatch(spark, dir, b.toLong)(
        dir -> (st => Seq((b.toLong, s"r$b")).toDF("id", "tag")
          .write.parquet(st)))
    }
    // plus the partial state of a crashed, never-committed batch — its
    // replay will rewrite the whole batch, so compaction must NOT absorb it
    Streams.replaceBatchFiles(spark, dir, 99L)(
      st => Seq((99L, "phantom")).toDF("id", "tag").write.parquet(st))
    // and a stale staging dir from a commit that crashed mid-write —
    // maintenance must sweep it (retries rebuild their staging anyway)
    Seq((98L, "stale")).toDF("id", "tag")
      .write.parquet(s"${dir}_staging/98")
    val expect = (0 until 12).map(b => (b.toLong, s"r$b")).toSet
    val (before, after, rows) = Streams.compactSinkDir(spark, dir, col("id"))
    assert(!new java.io.File(s"${dir}_staging").exists(),
      "compaction must sweep crashed commits' staging dirs")
    // `before` counts AFTER the uncommitted-partial cleanup: 12 committed
    // batch files (the phantom b99 file is already gone by then)
    assert(before >= 12L, s"one file per batch before: $before")
    assert(after <= 2L, s"compaction must bound the file count: $after")
    assert(rows === 12L)
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === expect,
      "compaction preserves exactly the committed rows")
    // a committed batch arriving after compaction still lands fine
    Streams.commitBatch(spark, dir, 12L)(
      dir -> (st => Seq((12L, "r12")).toDF("id", "tag").write.parquet(st)))
    assert(spark.read.parquet(dir).count() === 13)
  }

  test("compaction refuses to sweep a dir whose commit protocol lives elsewhere (wrong markerBase = data loss)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_wrongbase").toString
    val (idx, pairs) = (s"$base/index", s"$base/pairs")
    // an ingest-sink shape: the pairs dir's batches commit against the
    // INDEX's marker base
    (0 until 3).foreach { b =>
      Streams.commitBatch(spark, idx, b.toLong)(
        pairs -> (st => Seq((b.toLong, s"p$b")).toDF("id", "tag")
          .write.parquet(st)))
    }
    // the natural-but-wrong call (default markerBase = the dir itself)
    // must fail loudly, not silently delete all three committed batches
    val ex = intercept[IllegalArgumentException] {
      Streams.compactSinkDir(spark, pairs, col("id"))
    }
    assert(ex.getMessage.contains("markerBase"))
    assert(spark.read.parquet(pairs).count() === 3,
      "the refused sweep must not have touched any file")
    // the correct call compacts fine
    val (_, after, rows) =
      Streams.compactSinkDir(spark, pairs, col("id"),
        markerBase = Some(idx))
    assert(after <= 2 && rows === 3L)
    assert(spark.read.parquet(pairs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === (0 until 3).map(b => (b.toLong, s"p$b")).toSet)
  }

  test("marker watermark: compaction GCs marker files, folded ids still skip, gaps never fold") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_wm").toString
    val dir = s"$base/audit"
    def commit(b: Long): Unit = Streams.commitBatch(spark, dir, b)(
      dir -> (st => Seq((b, s"r$b")).toDF("id", "tag").write.parquet(st)))
    (0L to 5L).foreach(commit)
    assert(new java.io.File(s"${dir}_batches").list()
      .count(_.matches("\\d+")) === 6)
    Streams.compactSinkDir(spark, dir, col("id"))
    // the six marker files fold into one watermark number
    assert(new java.io.File(s"${dir}_batches").list()
      .count(_.matches("\\d+")) === 0,
      "compaction must GC the contiguous committed markers")
    assert(Streams.committedWatermark(spark, dir) === 5L)
    // a replay of a folded id still skips whole — answered by the
    // watermark now that its marker file is gone
    var ran = false
    Streams.commitBatch(spark, dir, 3L)(dir -> { st =>
      ran = true; Seq((99L, "x")).toDF("id", "tag").write.parquet(st) })
    assert(!ran, "a watermark-covered batch id must stay a no-op")
    assert(spark.read.parquet(dir).count() === 6)
    // a gap never folds: commit 9 (7 and 8 missing) — the watermark
    // must NOT advance past the gap (claiming 7 committed would turn
    // its later legitimate delivery into a silent drop)
    commit(9L)
    Streams.compactSinkDir(spark, dir, col("id"))
    assert(Streams.committedWatermark(spark, dir) === 5L)
    assert(new java.io.File(s"${dir}_batches").list()
      .count(_.matches("\\d+")) === 1, "the out-of-order marker survives")
    commit(6L); commit(7L); commit(8L)
    Streams.compactSinkDir(spark, dir, col("id"))
    assert(Streams.committedWatermark(spark, dir) === 9L)
    assert(new java.io.File(s"${dir}_batches").list()
      .count(_.matches("\\d+")) === 0)
    // content is exactly the ten committed batches throughout
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === (0L to 9L).map(b => (b, s"r$b")).toSet)
  }

  test("watermark file is crash-safe: tmp-only swap state heals, truncation never resets folded ids") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_wmcrash").toString
    val dir = s"$base/audit"
    def commit(b: Long): Unit = Streams.commitBatch(spark, dir, b)(
      dir -> (st => Seq((b, s"r$b")).toDF("id", "tag").write.parquet(st)))
    (0L to 3L).foreach(commit)
    Streams.compactSinkDir(spark, dir, col("id"))
    assert(Streams.committedWatermark(spark, dir) === 3L)
    val wm = new java.io.File(s"${dir}_batches/_watermark")
    val tmp = new java.io.File(s"${dir}_batches/_watermark.tmp")
    // crash window: the swap died between delete and rename — tmp is the
    // ONLY copy. Reads must answer from it (the folded markers are gone;
    // a -1 fallback would replay batches 0-3 as uncommitted duplicates)
    java.nio.file.Files.move(wm.toPath, tmp.toPath)
    assert(Streams.committedWatermark(spark, dir) === 3L,
      "the tmp file must answer while the swap is unhealed")
    // the next advance heals the swap rather than truncating the only copy
    commit(4L)
    Streams.advanceWatermark(spark, dir)
    assert(wm.exists && !tmp.exists, "the advance must promote tmp first")
    assert(Streams.committedWatermark(spark, dir) === 4L)
    // a truncated (empty) watermark file must not throw — the stale tmp
    // of an interrupted write still carries the last valid value
    java.nio.file.Files.write(tmp.toPath, "4".getBytes("UTF-8"))
    java.nio.file.Files.write(wm.toPath, Array.empty[Byte])
    assert(Streams.committedWatermark(spark, dir) === 4L)
    // folded ids still skip through every one of those states
    var ran = false
    Streams.commitBatch(spark, dir, 2L)(dir -> { st =>
      ran = true; Seq((99L, "x")).toDF("id", "tag").write.parquet(st) })
    assert(!ran, "a watermark-covered id must stay a no-op")
    assert(spark.read.parquet(dir).count() === 5)
  }

  test("epoch fence: committed ids fold or keep markers, a never-committed gap id stays retryable") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fence").toString
    val dir = s"$base/audit"
    def commit(b: Long): Unit = Streams.commitBatch(spark, dir, b)(
      dir -> (st => Seq((b, s"r$b")).toDF("id", "tag").write.parquet(st)))
    commit(0L); commit(2L) // batch 1 crashed before its marker: a gap
    val fence = Streams.fenceBatchEpoch(spark, dir)
    assert(fence === 2L, "new batches must number above everything ever seen")
    assert(Streams.committedWatermark(spark, dir) === 0L,
      "the watermark must not jump the never-committed gap")
    assert(Streams.isBatchCommitted(spark, dir, 2L),
      "the committed id above the gap keeps its marker fence")
    assert(!Streams.isBatchCommitted(spark, dir, 1L),
      "fencing the gap id would turn its later retry into a silent drop")
    // the gap id's late retry still applies, and the history completes
    commit(1L)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet
      === Set(0L, 1L, 2L))
    // with the gap closed, the fence folds everything
    assert(Streams.fenceBatchEpoch(spark, dir) === 2L)
    assert(Streams.committedWatermark(spark, dir) === 2L)
  }

  test("multi-sink route dirs share one marker set; compaction with markerBase keeps committed rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-routes").toString
    val in = MemoryStream[Event]
    val q = Streams.multiSink(in.toDF(), dir, Map(
      "purchases" -> (col("eventType") === "purchase"),
      "clicks"    -> (col("eventType") === "click")), s"$dir/ckpt")
    (0 until 6).foreach { b =>
      in.addData(Event(ts(b), b.toLong, "purchase", b.toDouble),
        Event(ts(b), b.toLong + 100, "click", 1.0))
      q.processAllAvailable()
    }
    q.stop()
    // one marker set at <baseDir>_batches covers every route dir
    assert(new java.io.File(s"${dir}_batches").list().length >= 6)
    val before = spark.read.parquet(s"$dir/purchases").collect()
      .map(_.getAs[Long]("userId")).sorted.toSeq
    // route dirs compact against the SHARED marker base — with the
    // default (dir-local) markerBase every batch file would look
    // uncommitted and be dropped, which is exactly the misuse the
    // parameter exists to prevent
    val (fb, fa, n) = Streams.compactSinkDir(spark, s"$dir/purchases",
      col("userId"), markerBase = Some(dir))
    assert(fb >= 6 && fa <= 2 && n === 6)
    assert(spark.read.parquet(s"$dir/purchases").collect()
      .map(_.getAs[Long]("userId")).sorted.toSeq === before)
  }

  test("embedding ingest sink: streamed batches fold into an index ≡ batch-built; pairs ≡ full LSH") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_emb_ingest").toString
    val vecsAll = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.embeddingIngestSink(in.toDF().toDF("vec_id", "embedding"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    (0 until 3).foreach { b =>
      in.addData(vecsAll.filter(_._1 % 3 == b).toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // streamed index ≡ batch-built over the same corpus, on BOTH tables
    graft.ops.Dedup.saveEmbeddingIndex(spark,
      spark.read.parquet(s"$sf/embeddings.parquet"), s"$base/batch_index")
    def vecsOf(p: String): Map[Long, Seq[Float]] = {
      val (v, _) = graft.ops.Dedup.loadEmbeddingIndex(spark, p)
      v.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    }
    def bucketsOf(p: String): Set[(Long, Int, Long)] = {
      val (_, b) = graft.ops.Dedup.loadEmbeddingIndex(spark, p)
      b.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("tbl"),
        r.getAs[Long]("bucket"))).toSet
    }
    assert(vecsOf(s"$base/index") === vecsOf(s"$base/batch_index"))
    assert(bucketsOf(s"$base/index") === bucketsOf(s"$base/batch_index"))
    // the union of per-batch pair outputs is the full-corpus LSH pair set
    val streamedPairs = spark.read.parquet(s"$base/pairs")
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.Dedup.embeddingLsh(spark, sf)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    assert(streamedPairs === full)
    // replay guard: a restarted checkpoint re-delivering batch 0 is a no-op
    val before = vecsOf(s"$base/index").size
    val in2 = MemoryStream[(Long, Array[Float])]
    in2.addData(vecsAll.filter(_._1 % 3 == 0).toIndexedSeq: _*)
    val q2 = Streams.embeddingIngestSink(in2.toDF().toDF("vec_id", "embedding"),
      s"$base/index", s"$base/pairs", s"$base/ckpt2")
    q2.processAllAvailable(); q2.stop()
    assert(vecsOf(s"$base/index").size === before)
  }

  test("skipping ingest sink: manifests stay fresh per batch, pruned reads exact and skip files") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_skip_sink").toString
    val dir = s"$base/t"
    val in = MemoryStream[(Long, Long, Double)]
    val q = Streams.skippingIngestSink(
      in.toDF().toDF("event_id", "user_id", "value"),
      dir, s"$base/ckpt", statsCols = Seq("event_id"),
      bloomCol = Some("event_id"))
    val b0 = (0L until 40L).map(i => (i, i % 10, i * 1.5))
    val b1 = (40L until 80L).map(i => (i, i % 10, i * 0.5))
    in.addData(b0: _*); q.processAllAvailable()
    // the FIRST batch creates both manifests
    assert(graft.ops.Layout.manifestCols(spark, dir) === Seq("event_id"))
    assert(graft.ops.Layout.bloomManifestCol(spark, dir) === Some("event_id"))
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()
    // every landed file is covered — the incremental refresh ran per batch
    val m = spark.read.parquet(s"$dir/${graft.ops.Layout.ManifestDir}")
    val nFiles = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(m.count() === nFiles.toLong, "manifest must cover every batch's files")
    assert(m.agg(sum(col("n_rows"))).head.getLong(0) === 80L)
    // pruned reads stay exact over the streamed table, and the per-batch
    // event_id clustering actually skips the other batch's files
    val r = graft.ops.Layout.readPruned(spark, dir, "event_id",
      lit(0L), lit(39L))
    assert(r.count() === 40L)
    assert(r.inputFiles.length < nFiles,
      s"batch-clustered range must skip files: ${r.inputFiles.length} of $nFiles")
    assert(graft.ops.Layout.readPrunedPoint(spark, dir, "event_id",
      Seq(5L, 77L)).count() === 2L)
  }
}
