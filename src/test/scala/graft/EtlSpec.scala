package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.{JsonEtl, Sinks}
import java.nio.file.Files
import graft.etl.StateKind._

class EtlSpec extends SparkSpec {

  test("incremental aggregate: fold ≡ one-shot recompute bit-exactly, in any batch order") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id"), col("event_type")).collect().toSeq
    val oneShot = JsonEtl.aggState(events)
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(JsonEtl.aggState(slices.head))(
      (st, b) => JsonEtl.aggUpsert(st, b))
    // the decimal-sum argument: fold equals recompute EXACTLY, not
    // approximately — schema too (the DECIMAL(28,2) pin keeps fold
    // generations from widening the sum type)
    assert(folded.schema === oneShot.schema)
    assert(key(folded) === key(oneShot))
    // commutativity: a permuted arrival order folds to the same state
    val permuted = Seq(2, 0, 3, 1).map(slices(_))
    val folded2 = permuted.tail.foldLeft(JsonEtl.aggState(permuted.head))(
      (st, b) => JsonEtl.aggUpsert(st, b))
    assert(key(folded2) === key(oneShot))
    // an empty batch is a no-op
    val foldedEmpty = JsonEtl.aggUpsert(folded, events.filter(lit(false)))
    assert(key(foldedEmpty) === key(oneShot))
  }

  test("foldConfig: one document folds every named state ≡ direct calls, replay no-op, bad kind and stamp mismatch raise") {
    val base = Files.createTempDirectory("graft_foldcfg").toString
    // the Tables read boundary (nanos-long ts) — the shape a landed batch
    // dir has, and what the document's DIV-based day derivation expects
    val events = Tables(spark, sf).events
    val slices = (0L to 1L).map(i => events.filter(col("event_id") % 2 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      b.write.parquet(s"$base/batch$i") }
    def doc(id: Long) =
      s"""{"batchId": $id, "input": {"path": "$base/batch$id"},
         | "derive": {"day": "CAST(ts DIV 1000000000 DIV 86400 AS BIGINT)"},
         | "states": [
         |  {"name": "totals", "kind": "agg", "path": "$base/agg",
         |   "keys": "event_type", "value_col": "value"},
         |  {"name": "uniq", "kind": "distinct", "path": "$base/dst",
         |   "keys": "event_type", "value_col": "user_id", "lgk": 11},
         |  {"name": "smp", "kind": "sample_windowed", "path": "$base/smp",
         |   "keys": "event_type", "value_col": "user_id", "k": 8,
         |   "retain_days": 14}]}""".stripMargin
    val r0 = JsonEtl.foldConfig(spark, doc(0)).collect()
    assert(r0.length === 3 && r0.forall(_.getBoolean(3)),
      "first fold of each state must report folded=true")
    JsonEtl.foldConfig(spark, doc(1))
    // round-trip: the document-built states bit-equal direct *At calls
    // over the same slices (same params, same ids)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val direct = s"$base/direct"
    JsonEtl.foldAt(spark, s"$direct/agg", slices(0), 0L,
      Agg(Seq("event_type"), "value"))
    JsonEtl.foldAt(spark, s"$direct/agg", slices(1), 1L,
      Agg(Seq("event_type"), "value"))
    assert(key(spark.read.parquet(s"$base/agg"))
      === key(spark.read.parquet(s"$direct/agg")))
    val withDay = (b: org.apache.spark.sql.DataFrame) => b.withColumn("day",
      expr("CAST(ts DIV 1000000000 DIV 86400 AS BIGINT)"))
    JsonEtl.foldAt(spark, s"$direct/smp", withDay(slices(0)), 0L,
      Windowed(Sample(Seq("event_type"), "user_id", 8), retainDays = 14))
    JsonEtl.foldAt(spark, s"$direct/smp", withDay(slices(1)), 1L,
      Windowed(Sample(Seq("event_type"), "user_id", 8), retainDays = 14))
    assert(key(spark.read.parquet(s"$base/smp"))
      === key(spark.read.parquet(s"$direct/smp")))
    // a replayed document is a per-state no-op, reported as folded=false
    val replay = JsonEtl.foldConfig(spark, doc(1)).collect()
    assert(replay.forall(!_.getBoolean(3)), "replay must report folded=false")
    assert(key(spark.read.parquet(s"$base/agg"))
      === key(spark.read.parquet(s"$direct/agg")), "replay must not re-fold")
    // an unknown kind raises BEFORE any state folds (all blocks validate
    // first — a config typo must not leave the set half-folded): batchId 2
    // is above every watermark, so a fold WOULD run if validation leaked
    val bad = doc(1).replace("\"batchId\": 1", "\"batchId\": 2")
      .replace("\"kind\": \"distinct\"", "\"kind\": \"nope\"")
    assertThrows[IllegalArgumentException](JsonEtl.foldConfig(spark, bad))
    assert(JsonEtl.aggFoldWatermark(spark, s"$base/agg") === 1L,
      "a config with any bad block must fold nothing")
    // a document whose parameters contradict the state's stamp raises the
    // durableFold fence (the config surface IS the _state_meta vocabulary)
    val mismatched =
      s"""{"batchId": 2, "input": {"path": "$base/batch1"},
         | "states": [{"name": "uniq", "kind": "distinct",
         |  "path": "$base/dst", "keys": "event_type",
         |  "value_col": "user_id", "lgk": 12}]}""".stripMargin
    val e = intercept[IllegalArgumentException](
      JsonEtl.foldConfig(spark, mismatched))
    assert(e.getMessage.contains("different parameters"))
    assert(JsonEtl.aggFoldWatermark(spark, s"$base/dst") === 1L,
      "a stamp-fenced fold must leave the state untouched")
  }

  test("foldConfig join kinds: document ≡ direct two-side fold, replay no-op, protocol mismatch raises") {
    val base = Files.createTempDirectory("graft_foldcfg_join").toString
    val t = Tables(spark, sf)
    val o = t.orders.select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val c = t.customer.select(col("c_custkey"), col("c_name"))
    val os = (0L to 1L).map(i => o.filter(col("o_orderkey") % 2 === i))
    val cs = (0L to 1L).map(i => c.filter(col("c_custkey") % 2 === i))
    os.zipWithIndex.foreach { case (b, i) => b.write.parquet(s"$base/left$i") }
    cs.zipWithIndex.foreach { case (b, i) => b.write.parquet(s"$base/right$i") }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    // two-sided: the document's input is the LEFT delta, the block names
    // the RIGHT delta — both sides interleave across the two batches
    def doc(id: Long) =
      s"""{"batchId": $id, "input": {"path": "$base/left$id"},
         | "states": [{"name": "jv", "kind": "join", "path": "$base/jv",
         |  "keys": "c_custkey",
         |  "right_input": {"path": "$base/right$id"}}]}""".stripMargin
    val r0 = JsonEtl.foldConfig(spark, doc(0)).collect()
    assert(r0.length === 1 && r0.head.getBoolean(3))
    JsonEtl.foldConfig(spark, doc(1))
    val direct = s"$base/direct"
    JsonEtl.joinUpsertAt(spark, direct, os(0), cs(0), 0L, Seq("c_custkey"))
    JsonEtl.joinUpsertAt(spark, direct, os(1), cs(1), 1L, Seq("c_custkey"))
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(spark.read.parquet(s"$direct/view")),
      "document-built join state must bit-equal the direct calls")
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(o.join(c, Seq("c_custkey"))),
      "the folded view must equal the one-shot join")
    // a replayed document is a marker-fenced no-op, reported folded=false
    val replay = JsonEtl.foldConfig(spark, doc(1)).collect()
    assert(replay.forall(!_.getBoolean(3)), "replay must report folded=false")
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(o.join(c, Seq("c_custkey"))), "replay must not re-fold")
    // a document routing the two_sided state through join_left hits the
    // _join_protocol stamp — raised, state untouched
    val wrong =
      s"""{"batchId": 2, "input": {"path": "$base/left0"},
         | "states": [{"name": "jv", "kind": "join_left",
         |  "path": "$base/jv", "keys": "c_custkey"}]}""".stripMargin
    val e = intercept[IllegalArgumentException](
      JsonEtl.foldConfig(spark, wrong))
    assert(e.getMessage.contains("protocol"))
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(o.join(c, Seq("c_custkey"))),
      "a protocol-fenced fold must leave the state untouched")
    // a REPLAYED id through the wrong entry point stays the harmless
    // no-op it always was: the replay fence answers before the protocol
    // stamp, so nothing raises and nothing is branded (the stamp itself
    // is written only after a live fold's preconditions hold)
    JsonEtl.joinUpsertLeftAt(spark, s"$base/jv", os(0), 1L, Seq("c_custkey"))
    assert(key(spark.read.parquet(s"$base/jv/view"))
      === key(o.join(c, Seq("c_custkey"))),
      "a replayed wrong-entry-point call must be a no-op, not a raise")
    assert(JsonEtl.joinProtocol(spark, s"$base/jv") === Some("two_sided"),
      "the replay must not restamp the protocol")
    // join_left: right seeded once at path/right, never batch-written
    c.coalesce(1).write.parquet(s"$base/jvl/right")
    def ldoc(id: Long) =
      s"""{"batchId": $id, "input": {"path": "$base/left$id"},
         | "states": [{"name": "jvl", "kind": "join_left",
         |  "path": "$base/jvl", "keys": "c_custkey"}]}""".stripMargin
    JsonEtl.foldConfig(spark, ldoc(0))
    JsonEtl.foldConfig(spark, ldoc(1))
    assert(key(spark.read.parquet(s"$base/jvl/view"))
      === key(o.join(c, Seq("c_custkey"))),
      "left-only document folds must equal the one-shot join")
    // a join block missing its right input fails prevalidation (nothing
    // half-folds under batch 2)
    val incomplete =
      s"""{"batchId": 3, "input": {"path": "$base/left0"},
         | "states": [{"name": "jv", "kind": "join", "path": "$base/jv",
         |  "keys": "c_custkey"}]}""".stripMargin
    assertThrows[IllegalArgumentException](
      JsonEtl.foldConfig(spark, incomplete))
    // the contract is LOADABLE, not merely present: a typo'd right_input
    // path fails the whole document before ANY state folds — an earlier
    // agg block must not be left folded under the batch id
    val typo =
      s"""{"batchId": 3, "input": {"path": "$base/left0"},
         | "states": [
         |  {"name": "agg3", "kind": "agg", "path": "$base/agg3",
         |   "keys": "c_custkey", "value_col": "o_totalprice"},
         |  {"name": "jv2", "kind": "join", "path": "$base/jv2",
         |   "keys": "c_custkey",
         |   "right_input": {"path": "$base/does_not_exist"}}]}""".stripMargin
    assertThrows[Exception](JsonEtl.foldConfig(spark, typo))
    assert(!new java.io.File(s"$base/agg3").exists,
      "an unreadable join input must fail the document before any fold")
    // same for an unseeded join_left right side
    val unseeded =
      s"""{"batchId": 3, "input": {"path": "$base/left0"},
         | "states": [
         |  {"name": "agg3", "kind": "agg", "path": "$base/agg3",
         |   "keys": "c_custkey", "value_col": "o_totalprice"},
         |  {"name": "jvl2", "kind": "join_left", "path": "$base/jvl2",
         |   "keys": "c_custkey"}]}""".stripMargin
    val e2 = intercept[IllegalArgumentException](
      JsonEtl.foldConfig(spark, unseeded))
    assert(e2.getMessage.contains("seeded"))
    assert(!new java.io.File(s"$base/agg3").exists)
  }

  test("durable incremental aggregate: replay is a no-op, crash mid-swap recovers") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val path = Files.createTempDirectory("graft_aggstate").toString + "/state"
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id"), col("event_type")).collect().toSeq
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    JsonEtl.foldAt(spark, path, slices(0), 0L, Agg())
    JsonEtl.foldAt(spark, path, slices(1), 1L, Agg())
    // a replayed batch must NOT double-count — the non-idempotent-fold
    // hazard the state's own watermark exists to close
    JsonEtl.foldAt(spark, path, slices(1), 1L, Agg())
    JsonEtl.foldAt(spark, path, slices(0), 0L, Agg())
    assert(JsonEtl.aggFoldWatermark(spark, path) === 1L)
    val twoIn = events.filter(col("event_id") % 4 <= 1)
    assert(key(spark.read.parquet(path)) === key(JsonEtl.aggState(twoIn)))
    // crash between rewriteInPlace's two renames: live path missing, old
    // generation parked — the next fold restores it first, then folds
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old")))
    JsonEtl.foldAt(spark, path, slices(2), 2L, Agg())
    JsonEtl.foldAt(spark, path, slices(3), 3L, Agg())
    assert(key(spark.read.parquet(path)) === key(JsonEtl.aggState(events)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old")))
  }

  test("bottom-k sample state: fold ≡ recompute bit-exactly in any order, estimate view, durable + meta") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("rank")).collect().toSeq
    val oneShot = JsonEtl.sampleState(events, k = 8)
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(JsonEtl.sampleState(slices.head, k = 8))(
      (st, b) => JsonEtl.sampleUpsert(st, b, k = 8))
    // EXACT mergeability (the bottom-k set identity): fold equals
    // recompute bit-for-bit, ranks and hashes included, in any order
    assert(key(folded) === key(oneShot))
    val permuted = Seq(2, 0, 3, 1).map(slices(_))
    assert(key(permuted.tail.foldLeft(
      JsonEtl.sampleState(permuted.head, k = 8))(
      (st, b) => JsonEtl.sampleUpsert(st, b, k = 8))) === key(oneShot))
    // a replayed slice is absorbed (same values, same hashes)
    assert(key(JsonEtl.sampleUpsert(folded, slices(1), k = 8))
      === key(oneShot))
    // k-bounded state; a key with fewer than k distinct values keeps all
    assert(folded.groupBy(col("event_type")).count()
      .agg(max(col("count"))).head.getLong(0) <= 8L)
    val tiny = JsonEtl.sampleState(events.filter(col("user_id") < 3), k = 8)
    val tinyExact = events.filter(col("user_id") < 3)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tiny.groupBy(col("event_type")).count().collect().foreach(r =>
      assert(r.getLong(1) === tinyExact(r.getString(0)),
        "below-k keys must keep every distinct value"))
    // the KMV estimate view: exact below k, within a loose envelope at k
    // (k=8 → ~35% relative sd; the corpus has 150 users/type)
    val est = JsonEtl.sampleDistinctEstimate(folded, k = 8).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("distinct_est")).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, d) =>
      assert(math.abs(est(t) - d) <= d.toDouble,
        s"KMV estimate for $t wildly off: ${est(t)} vs $d") }
    val tinyEst = JsonEtl.sampleDistinctEstimate(tiny, k = 8).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("distinct_est")).toMap
    tinyExact.foreach { case (t, d) =>
      assert(tinyEst(t) === d.toDouble, "below-k estimate must be exact") }
    // durable: replay fenced, meta stamped, mismatched seed raises
    val path = Files.createTempDirectory("graft_bk").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong, Sample(k = 8)) }
    JsonEtl.foldAt(spark, path, slices(2), 2L, Sample(k = 8)) // replay
    assert(key(spark.read.parquet(path)) === key(oneShot))
    assert(JsonEtl.stateMeta(spark, path)("kind") === "sample")
    assert(JsonEtl.stateMeta(spark, path)("k") === "8")
    val e = intercept[IllegalArgumentException](
      JsonEtl.foldAt(spark, path, slices(0), 9L, Sample(k = 8, seed = "bk1")))
    assert(e.getMessage.contains("different parameters"))
  }

  test("windowed sample state: fold ≡ recompute bit-exactly, view reconstructs the exact window bottom-k") {
    val events = Tables(spark, sf).events
      .withColumn("day", floor(col("ts") / 1000000000L / 86400L))
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("day"), col("rank")).collect().toSeq
    val folded = slices.tail.foldLeft(
      Windowed(Sample(k = 8), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(Sample(k = 8), retainDays = 14).fold(st, b))
    val oneShot = Windowed(Sample(k = 8), retainDays = 14).state(events)
    assert(key(folded) === key(oneShot))
    assert(folded.select(col("day")).distinct().count() <= 14L)
    // stale-beyond-horizon batch is a no-op
    val horizon = events.agg(max(col("day"))).head.getLong(0) - 14
    val stale = events.filter(col("day") <= horizon - 2)
    assert(stale.count() > 0)
    assert(key(Windowed(Sample(k = 8), retainDays = 14).fold(folded,
      stale)) === key(oneShot))
    // the view's re-truncation IS the window's exact bottom-k (the
    // windowed-member argument): compare against a direct one-shot
    // bottom-k over only the trailing 7 days
    def vkey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("rank")).collect().toSeq
    assert(vkey(Windowed(Sample(k = 8)).view(folded, 7))
      === vkey(JsonEtl.sampleState(
        events.filter(col("day") > horizon + 7), k = 8)))
    // durable: meta stamped, mismatched retention raises
    val path = Files.createTempDirectory("graft_wbk").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong,
        Windowed(Sample(k = 8), retainDays = 14)) }
    assert(key(spark.read.parquet(path)) === key(oneShot))
    assert(JsonEtl.stateMeta(spark, path)("kind") === "sample_windowed")
    val e2 = intercept[IllegalArgumentException](
      JsonEtl.foldAt(spark, path, slices(0), 9L,
        Windowed(Sample(k = 8), retainDays = 30)))
    assert(e2.getMessage.contains("different parameters"))
  }

  test("windowed quantile state: exact n_rows, in-envelope window estimates, stale no-op, durable meta") {
    val events = Tables(spark, sf).events
      .withColumn("day", floor(col("ts") / 1000000000L / 86400L))
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(
      Windowed(Quantile(), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(Quantile(), retainDays = 14).fold(st, b))
    assert(folded.select(col("day")).distinct().count() <= 14L)
    val horizon = events.agg(max(col("day"))).head.getLong(0) - 14
    // n_rows is additive-exact: the folded counts equal the windowed
    // recompute per (key, day) — the deterministic half of the family
    val nFold = folded.select(col("event_type"), col("day"), col("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq
    val nExact = events.filter(col("day") > horizon)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq
    assert(nFold === nExact)
    // stale-beyond-horizon no-op on the deterministic half
    val stale = events.filter(col("day") <= horizon - 2)
    assert(stale.count() > 0)
    assert(Windowed(Quantile(), retainDays = 14).fold(folded, stale)
      .select(col("event_type"), col("day"), col("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq === nExact)
    // view: trailing-7-day estimates inside the KLL rank-error envelope
    // of the window's exact order statistics (4% true-rank slack)
    val win = events.filter(col("day") > horizon + 7)
    val view = Windowed(Quantile()).view(folded, 7).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("p50"),
          r.getAs[Double]("p99"))).toMap
    win.select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).foreach { case (t, rows) =>
        val sorted = rows.map(_.getDouble(1)).sorted
        val (n, p50, p99) = view(t)
        assert(n === sorted.length.toLong)
        def rankOf(v: Double) = sorted.count(_ <= v).toDouble / sorted.length
        assert(math.abs(rankOf(p50) - 0.5) <= 0.04, s"$t p50 rank off")
        assert(math.abs(rankOf(p99) - 0.99) <= 0.04, s"$t p99 rank off")
      }
    // durable: meta stamped, mismatched k raises
    val path = Files.createTempDirectory("graft_wq").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong,
        Windowed(Quantile(), retainDays = 14)) }
    assert(JsonEtl.stateMeta(spark, path)("kind") === "quantile_windowed")
    assert(spark.read.parquet(path)
      .select(col("event_type"), col("day"), col("n_rows"))
      .orderBy(col("event_type"), col("day")).collect().toSeq === nExact)
    val e2 = intercept[IllegalArgumentException](
      JsonEtl.foldAt(spark, path, slices(0), 9L,
        Windowed(Quantile(k = 100), retainDays = 14)))
    assert(e2.getMessage.contains("different parameters"))
  }

  test("windowed frequent-items state: fold ≡ recompute (exact regime), stale no-op, view ranks the window, durable meta") {
    val events = Tables(spark, sf).events
      .withColumn("day", floor(col("ts") / 1000000000L / 86400L))
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    def vkey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("rank")).collect().toSeq
    val folded = slices.tail.foldLeft(
      Windowed(Freq(), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(Freq(), retainDays = 14).fold(st, b))
    assert(folded.select(col("day")).distinct().count() <= 14L)
    // fold ≡ one-shot windowed recompute through the ranked view (exact
    // regime: counters never purge at this cardinality)
    val oneShot = Windowed(Freq(), retainDays = 14).state(events)
    assert(vkey(Windowed(Freq()).view(folded))
      === vkey(Windowed(Freq()).view(oneShot)))
    // stale-beyond-horizon no-op
    val horizon = events.agg(max(col("day"))).head.getLong(0) - 14
    val stale = events.filter(col("day") <= horizon - 2)
    assert(stale.count() > 0)
    assert(vkey(Windowed(Freq()).view(
      Windowed(Freq(), retainDays = 14).fold(folded, stale)))
      === vkey(Windowed(Freq()).view(oneShot)))
    // the view equals the exact windowed count-then-rank
    val exact = events.filter(col("day") > horizon + 7)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("est"))
      .collect().groupBy(_.getString(0)).toSeq.flatMap { case (t, rows) =>
        rows.map(r => (t, r.getLong(1).toString, r.getLong(2)))
          .sortBy { case (_, item, est) => (-est, item) }
          .take(5).zipWithIndex
          .map { case ((tt, item, est), i) => (tt, (i + 1).toLong, item, est) }
          .toSeq
      }.sortBy(x => (x._1, x._2))
    assert(vkey(Windowed(Freq()).view(folded))
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getAs[Long]("est"))) === exact)
    // durable: meta stamped, mismatched map size raises
    val path = Files.createTempDirectory("graft_wf").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong,
        Windowed(Freq(), retainDays = 14)) }
    assert(JsonEtl.stateMeta(spark, path)("kind") === "freq_windowed")
    assert(vkey(Windowed(Freq()).view(spark.read.parquet(path)))
      === vkey(Windowed(Freq()).view(oneShot)))
    val e2 = intercept[IllegalArgumentException](
      JsonEtl.foldAt(spark, path, slices(0), 9L,
        Windowed(Freq(maxMapSize = 64), retainDays = 14)))
    assert(e2.getMessage.contains("different parameters"))
  }

  test("sketch partials spill guard: a firing flush changes nothing but partial count") {
    // the per-partition sketch maps flush when they exceed the key
    // threshold — multiple partials per (partition, key) are absorbed by
    // the merge shuffle, so a threshold small enough to fire constantly
    // must produce bit-identical state to one that never fires
    val events = spark.read.parquet(s"$sf/events.parquet")
    def thetaState(flushKeys: Int) =
      JsonEtl.mergeSketchFrames(
        JsonEtl.audiencePartials(events, Seq("event_type"), "user_id", 12,
          flushKeys), Seq("event_type"), graft.etl.SketchMerges.theta(12))
    val never = thetaState(JsonEtl.SketchPartialFlushKeys)
    val always = thetaState(2) // 5 event types per partition >> 2
    // the guard actually fired: more partial rows than keys
    assert(JsonEtl.audiencePartials(events, Seq("event_type"), "user_id", 12, 2)
      .count() > JsonEtl.audiencePartials(events, Seq("event_type"), "user_id", 12)
      .count())
    def estimates(df: org.apache.spark.sql.DataFrame) =
      JsonEtl.audienceOverlap(df).orderBy(col("a"), col("b"))
        .collect().toSeq
    assert(estimates(always) === estimates(never))
    // Misra-Gries: same guard, same invariance (exact regime — counts add)
    def freqTop(flushKeys: Int) =
      JsonEtl.freqTopItems(JsonEtl.mergeSketchFrames(
        JsonEtl.freqPartials(events, Seq("event_type"), "user_id", 1024,
          flushKeys), Seq("event_type"), graft.etl.SketchMerges.freq(1024)))
        .orderBy(col("event_type"), col("rank")).collect().toSeq
    assert(freqTop(2) === freqTop(JsonEtl.SketchPartialFlushKeys))
  }

  test("state meta: stamped on first fold, mismatched params raise per family, views read the stamp") {
    val events = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("day", floor(col("ts").cast("timestamp").cast("long")
        / lit(86400L)).cast("long"))
    // contiguous event_id halves — the ewma family's order contract
    // requires batch 1 strictly above batch 0; fine for every family
    val mid = events.agg(max(col("event_id"))).head.getLong(0) / 2
    val b = Seq(events.filter(col("event_id") <= mid),
      events.filter(col("event_id") > mid))
    val base = Files.createTempDirectory("graft_meta").toString
    // one (first-fold, mismatched-second-fold, matched-second-fold) probe
    // per durable family: the mismatch must raise BEFORE any fold work,
    // the match must fold, and the stamp must round-trip
    val families: Seq[(String, Map[String, String],
        (String, org.apache.spark.sql.DataFrame, Long) => Unit,  // good
        (String, org.apache.spark.sql.DataFrame, Long) => Unit)] = Seq(
      ("agg", Map("kind" -> "agg", "keys" -> "user_id,event_type",
        "value_col" -> "value"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Agg()),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i,
          Agg(valueCol = "event_id"))),
      ("agg_windowed", Map("kind" -> "agg_windowed", "keys" -> "event_type",
        "value_cols" -> "value", "day_col" -> "day", "retain_days" -> "14"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i,
          Windowed(AggN(Seq("event_type"), Seq("value")), retainDays = 14)),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i,
          Windowed(AggN(Seq("event_type"), Seq("value")), retainDays = 30))),
      ("ewma", Map("kind" -> "ewma", "keys" -> "user_id",
        "order_col" -> "event_id", "value_col" -> "value", "alpha" -> "0.5"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Ewma()),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Ewma(alpha = 0.25))),
      ("distinct", Map("kind" -> "distinct", "keys" -> "event_type",
        "value_col" -> "user_id", "lgk" -> "12"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Distinct()),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Distinct(lgK = 10))),
      ("quantile", Map("kind" -> "quantile", "key" -> "event_type",
        "value_col" -> "value", "k" -> "200"),
        (p, d, i) => JsonEtl.quantileUpsertAt(spark, p, d, i),
        (p, d, i) => JsonEtl.quantileUpsertAt(spark, p, d, i, k = 100)),
      ("audience", Map("kind" -> "audience", "key" -> "event_type",
        "value_col" -> "user_id", "lgk" -> "12"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Audience()),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Audience(lgK = 10))),
      ("freq", Map("kind" -> "freq", "key" -> "event_type",
        "item_col" -> "user_id", "max_map_size" -> "1024"),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Freq()),
        (p, d, i) => JsonEtl.foldAt(spark, p, d, i, Freq(maxMapSize = 64))))
    families.foreach { case (name, expectMeta, good, bad) =>
      val p = s"$base/$name"
      good(p, b(0), 0L)
      assert(JsonEtl.stateMeta(spark, p) === expectMeta, name)
      val e = intercept[IllegalArgumentException](bad(p, b(1), 1L))
      assert(e.getMessage.contains("different parameters"), name)
      // the mismatch raised before any fold landed: watermark unmoved
      assert(JsonEtl.aggFoldWatermark(spark, p) === 0L, name)
      good(p, b(1), 1L) // matched params fold through
      assert(JsonEtl.aggFoldWatermark(spark, p) === 1L, name)
      assert(JsonEtl.stateMeta(spark, p) === expectMeta, name)
    }
    // a REPLAYED mismatched fold is fenced before the meta check (replay
    // protection stays the outermost guard)
    JsonEtl.foldAt(spark, s"$base/audience", b(1), 1L, Audience(lgK = 10))
    // the geometry-sensitive read view answers from the stamp
    val viaStamp = JsonEtl.audienceOverlapAt(spark, s"$base/audience")
      .orderBy(col("a"), col("b")).collect().toSeq
    val direct = JsonEtl.audienceOverlap(
        spark.read.parquet(s"$base/audience"), lgK = 12)
      .orderBy(col("a"), col("b")).collect().toSeq
    assert(viaStamp === direct)
    // ...and refuses a stamp of the wrong kind
    val wrong = intercept[IllegalArgumentException](
      JsonEtl.audienceOverlapAt(spark, s"$base/freq"))
    assert(wrong.getMessage.contains("kind=freq"))
  }

  test("generic additive state: N-column fold ≡ recompute bit-exactly, any order, empty batch no-op") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val keys = Seq("l_returnflag", "l_linestatus")
    val vals = Seq("l_quantity", "l_extendedprice")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col): _*).collect().toSeq
    val oneShot = JsonEtl.aggStateN(li, keys, vals)
    val slices = (0L to 3L).map(i => li.filter(col("l_orderkey") % 4 === i))
    val folded = slices.tail.foldLeft(
      JsonEtl.aggStateN(slices.head, keys, vals))(
      (st, b) => JsonEtl.aggUpsertN(st, b, keys, vals))
    // schema too: the fixed decimal pins keep fold generations from
    // widening sum/sumsq types
    assert(folded.schema === oneShot.schema)
    assert(key(folded) === key(oneShot))
    // commutativity: a permuted arrival order folds to the same state
    val permuted = Seq(3, 1, 0, 2).map(slices(_))
    val folded2 = permuted.tail.foldLeft(
      JsonEtl.aggStateN(permuted.head, keys, vals))(
      (st, b) => JsonEtl.aggUpsertN(st, b, keys, vals))
    assert(key(folded2) === key(oneShot))
    // an empty batch is a no-op
    val foldedEmpty = JsonEtl.aggUpsertN(folded, li.filter(lit(false)), keys, vals)
    assert(key(foldedEmpty) === key(oneShot))
    // the sumsq-derived views agree with Spark's own population moments
    // (small float tolerance — var_pop uses a different, numerically
    // stable algorithm; l_quantity is 2dp-exact so the decimal rounding
    // in the state loses nothing)
    val derived = JsonEtl.aggDerivedN(oneShot, vals)
    val direct = li.groupBy(keys.map(col): _*).agg(
      var_pop(col("l_quantity")).as("vp"), avg(col("l_quantity")).as("ap"))
    derived.join(direct, keys).collect().foreach { r =>
      val vp = r.getAs[Double]("vp")
      assert(math.abs(r.getAs[Double]("var_l_quantity") - vp)
        <= 1e-6 * math.max(1.0, vp), "variance view diverged")
      assert(math.abs(r.getAs[Double]("stddev_l_quantity") - math.sqrt(vp))
        <= 1e-6 * math.max(1.0, math.sqrt(vp)), "stddev view diverged")
      assert(math.abs(r.getAs[Double]("avg_l_quantity") - r.getAs[Double]("ap"))
        <= 1e-9 * math.abs(r.getAs[Double]("ap")), "avg view diverged")
    }
  }

  test("durable generic state: replay is a no-op, crash mid-swap recovers (N-column)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val keys = Seq("l_returnflag", "l_linestatus")
    val vals = Seq("l_quantity", "l_extendedprice")
    val path = Files.createTempDirectory("graft_aggstate_n").toString + "/state"
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col): _*).collect().toSeq
    val slices = (0L to 3L).map(i => li.filter(col("l_orderkey") % 4 === i))
    JsonEtl.aggUpsertAtN(spark, path, slices(0), 0L, keys, vals)
    JsonEtl.aggUpsertAtN(spark, path, slices(1), 1L, keys, vals)
    // a replayed batch must NOT double-count
    JsonEtl.aggUpsertAtN(spark, path, slices(1), 1L, keys, vals)
    assert(JsonEtl.aggFoldWatermark(spark, path) === 1L)
    val twoIn = li.filter(col("l_orderkey") % 4 <= 1)
    assert(key(spark.read.parquet(path))
      === key(JsonEtl.aggStateN(twoIn, keys, vals)))
    // crash between the swap's renames: park the live generation — the
    // next fold restores it first, then folds
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old")))
    JsonEtl.aggUpsertAtN(spark, path, slices(2), 2L, keys, vals)
    JsonEtl.aggUpsertAtN(spark, path, slices(3), 3L, keys, vals)
    assert(key(spark.read.parquet(path)) === key(JsonEtl.aggStateN(li, keys, vals)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old")))
  }

  test("windowed state: fold ≡ recompute on the retained window; state bounded; late-beyond-horizon no-op") {
    // Tables normalizes ts to nanos-epoch long across parquet generations
    val events = Tables(spark, sf).events
      .withColumn("day", floor(col("ts") / 1000000000L / 86400L))
    val keys = Seq("event_type")
    val vals = Seq("value")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type"), col("day")).collect().toSeq
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(
      Windowed(AggN(keys, vals), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(AggN(keys, vals), retainDays = 14).fold(st, b))
    // fold ≡ one-shot recompute over the retained window, schema included
    val oneShot = Windowed(AggN(keys, vals), retainDays = 14).state(events)
    assert(folded.schema === oneShot.schema)
    assert(key(folded) === key(oneShot))
    // the whole point: state bounded by retention (the corpus spans 30 days)
    assert(events.select(col("day")).distinct().count() > 14L)
    assert(folded.select(col("day")).distinct().count() <= 14L)
    // a batch entirely OLDER than the horizon folds as a no-op: the
    // partial rows it creates are beyond every later horizon by the
    // monotone-horizon argument and the fold's own expiry drops them
    val horizon = events.agg(max(col("day"))).head.getLong(0) - 14
    val stale = events.filter(col("day") <= horizon - 2)
    assert(stale.count() > 0, "the corpus must have data beyond the horizon")
    assert(key(Windowed(AggN(keys, vals), retainDays = 14).fold(folded,
      stale)) === key(oneShot))
    // rolling view ≡ direct recomputation over the last 7 days
    val view = Windowed(AggN(keys, vals)).view(folded, 7)
    val direct = JsonEtl.aggDerivedN(
      JsonEtl.aggStateN(events.filter(col("day") > horizon + 7), keys, vals),
      vals)
    assert(view.orderBy(col("event_type")).collect().toSeq
      === direct.orderBy(col("event_type")).collect().toSeq)
    // durable form: replay is a no-op
    val path = Files.createTempDirectory("graft_wstate").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong,
        Windowed(AggN(keys, vals), retainDays = 14)) }
    JsonEtl.foldAt(spark, path, slices(1), 1L,
      Windowed(AggN(keys, vals), retainDays = 14))
    assert(key(spark.read.parquet(path)) === key(oneShot))
  }

  test("windowed sketch states: fold ≡ recompute on the retained window, late-data safety, durable replay") {
    val events = Tables(spark, sf).events
      .withColumn("day", floor(col("ts") / 1000000000L / 86400L))
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val horizon = events.agg(max(col("day"))).head.getLong(0) - 14
    val stale = events.filter(col("day") <= horizon - 2)
    assert(stale.count() > 0, "the corpus must have data beyond the horizon")
    val inWindow = events.filter(col("day") > horizon)

    // ---- distinct (HLL): estimates compare exactly in the coupon regime
    def dKey(df: org.apache.spark.sql.DataFrame) =
      JsonEtl.distinctEstimate(df)
        .orderBy(col("event_type"), col("day")).collect().toSeq
    val dFold = slices.tail.foldLeft(
      Windowed(Distinct(), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(Distinct(), retainDays = 14).fold(st, b))
    val dOneShot = Windowed(Distinct(), retainDays = 14).state(events)
    assert(dKey(dFold) === dKey(dOneShot))
    assert(dFold.select(col("day")).distinct().count() <= 14L)
    // stale-beyond-horizon batch is a no-op; in-horizon late data folds
    assert(dKey(Windowed(Distinct(), retainDays = 14).fold(dFold,
      stale)) === dKey(dOneShot))
    val dHalf = Windowed(Distinct(), retainDays = 14).state(
      inWindow.filter(col("user_id") % 2 === 0))
    val dLate = Windowed(Distinct(), retainDays = 14).fold(dHalf,
      inWindow.filter(col("user_id") % 2 === 1))
    assert(dKey(dLate) === dKey(Windowed(Distinct(), retainDays = 14)
      .state(inWindow)), "late rows for a still-retained day must fold in")
    // view ≡ windowed exact recompute (coupon regime)
    val dView = Windowed(Distinct()).view(dFold, 7)
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = events.filter(col("day") > horizon + 7)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(dView === exact)

    // ---- audience (theta): same contract, sketch bytes compared via view
    def aKey(df: org.apache.spark.sql.DataFrame) =
      Windowed(Audience()).view(df, 14)
        .orderBy(col("a"), col("b")).collect().toSeq
    val aFold = slices.tail.foldLeft(
      Windowed(Audience(), retainDays = 14).state(slices.head))(
      (st, b) => Windowed(Audience(), retainDays = 14).fold(st, b))
    val aOneShot = Windowed(Audience(), retainDays = 14).state(events)
    assert(aFold.select(col("day")).distinct().count() <= 14L)
    assert(aKey(aFold) === aKey(aOneShot))
    assert(aKey(Windowed(Audience(), retainDays = 14).fold(aFold,
      stale)) === aKey(aOneShot), "stale batch must be a no-op")
    // the (key, day) composite round-trips: schema and exact day values
    assert(aFold.columns.toSeq === Seq("event_type", "day", "sketch"))
    assert(aFold.select(col("day")).distinct().collect().map(_.getLong(0))
      .toSet.subsetOf(events.select(col("day")).distinct().collect()
        .map(_.getLong(0)).toSet))

    // ---- durable forms: replay fenced, meta stamped, mismatch raises
    val base = Files.createTempDirectory("graft_wsketch").toString
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, s"$base/d", b, i.toLong,
        Windowed(Distinct(), retainDays = 14))
      JsonEtl.foldAt(spark, s"$base/a", b, i.toLong,
        Windowed(Audience(), retainDays = 14))
    }
    JsonEtl.foldAt(spark, s"$base/d", slices(1), 1L,
      Windowed(Distinct(), retainDays = 14)) // replay — fenced
    assert(dKey(spark.read.parquet(s"$base/d")) === dKey(dOneShot))
    assert(aKey(spark.read.parquet(s"$base/a")) === aKey(aOneShot))
    assert(JsonEtl.stateMeta(spark, s"$base/d")("kind") === "distinct_windowed")
    assert(JsonEtl.stateMeta(spark, s"$base/a")("retain_days") === "14")
    val e = intercept[IllegalArgumentException](
      JsonEtl.foldAt(spark, s"$base/a", slices(0), 9L,
        Windowed(Audience(), retainDays = 30)))
    assert(e.getMessage.contains("different parameters"))
  }

  test("incremental EWMA: ordered fold ≡ one-shot bit-exactly; out-of-order raises; replay no-op") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id")).collect().toSeq
    val oneShot = JsonEtl.ewmaState(events)
    val mx = events.agg(max(col("event_id"))).head.getLong(0)
    val cuts = (1 to 3).map(i => mx * i.toLong / 4L)
    val slices = Seq(
      events.filter(col("event_id") <= cuts(0)),
      events.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      events.filter(col("event_id") > cuts(1) && col("event_id") <= cuts(2)),
      events.filter(col("event_id") > cuts(2)))
    val folded = slices.tail.foldLeft(JsonEtl.ewmaState(slices.head))(
      (st, b) => JsonEtl.ewmaUpsert(st, b))
    // === on doubles: the fold replays the one-shot's exact FP recurrence
    assert(key(folded) === key(oneShot))
    // an empty batch is a no-op (every key carries through untouched)
    assert(key(JsonEtl.ewmaUpsert(folded, events.filter(lit(false))))
      === key(oneShot))
    // the order CONTRACT: re-folding an already-seen range must raise,
    // not silently mis-smooth (order-sensitivity is the operator's point)
    intercept[Exception] {
      JsonEtl.ewmaUpsert(folded, slices(1)).collect()
    }
    // durable form: the watermark fence turns that same replay into a
    // NO-OP (skipped before any plan is built), and the final state is
    // the one-shot fold
    val path = Files.createTempDirectory("graft_ewma_state").toString + "/state"
    JsonEtl.foldAt(spark, path, slices(0), 0L, Ewma())
    JsonEtl.foldAt(spark, path, slices(1), 1L, Ewma())
    JsonEtl.foldAt(spark, path, slices(1), 1L, Ewma()) // replay — fenced
    JsonEtl.foldAt(spark, path, slices(2), 2L, Ewma())
    JsonEtl.foldAt(spark, path, slices(3), 3L, Ewma())
    assert(key(spark.read.parquet(path)) === key(oneShot))
    assert(JsonEtl.aggFoldWatermark(spark, path) === 3L)
  }

  test("latest-by-key keeps exactly one (latest) record per key") {
    val out = JsonEtl.latestByKey(spark, sf)
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(out.count() === users)
    assert(out.groupBy("user_id").count().filter(col("count") > 1).count() === 0)
  }

  test("sessionize: sessions are disjoint, ordered, and cover all events") {
    val sess = JsonEtl.sessionize(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(sess.map(_.getAs[Long]("n_events")).sum === total)
    sess.groupBy(_.getAs[Long]("user_id")).values.foreach { ss =>
      val sorted = ss.toSeq.sortBy(_.getAs[Long]("sess_idx"))
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          // next session starts > 30 min after the previous one ended
          assert(b.getAs[Long]("session_start") - a.getAs[Long]("session_end") > 1800)
        case _ =>
      }
    }
  }

  test("tumbling windows partition the stream (counts sum to total)") {
    val out = JsonEtl.tumblingWindow(spark, sf)
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(out.agg(sum("n")).head.getLong(0) === total)
  }

  test("multi-sink fan-out writes each route once with correct counts") {
    val dir = Files.createTempDirectory("graft-sinks").toString
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val counts = Sinks.multiSink(ev, Map(
      "purchases" -> (col("event_type") === "purchase"),
      "errors"    -> (col("event_type") === "error")), dir)
    val wantP = ev.filter(col("event_type") === "purchase").count()
    assert(counts("purchases") === wantP)
    assert(spark.read.parquet(s"$dir/purchases").count() === wantP)
    assert(spark.read.parquet(s"$dir/errors").count() === counts("errors"))
  }

  test("partitioned write prunes by day and rolls files") {
    val dir = Files.createTempDirectory("graft-pw").toString + "/out"
    val ev = Tables(spark, sf).events
    Sinks.partitionedWrite(ev,
      date_format(timestamp_seconds((col("ts") / 1000000000L).cast(LongType)), "yyyy-MM-dd"),
      dir, maxRecordsPerFile = 10)
    val back = spark.read.parquet(dir)
    assert(back.count() === ev.count())
    // rolling: some day partition must hold >1 file given the 100-row cap
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
    assert(files.nonEmpty)
    assert(files.exists(_.listFiles().count(_.getName.endsWith(".parquet")) > 1))
    // pruning: a day filter reads only that partition
    // partition-column inference reads day back as DATE
    val one = back.select("day").distinct().head.get(0).toString
    val plan = back.filter(col("day") === one).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
  }

  test("orc sink round-trips day-partitioned with pruning and rolling intact") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/out"
    val ev = Tables(spark, sf).events
    Sinks.orcWrite(ev,
      date_format(timestamp_seconds((col("ts") / 1000000000L).cast(LongType)), "yyyy-MM-dd"),
      dir, maxRecordsPerFile = 10)
    val back = spark.read.orc(dir)
    assert(back.count() === ev.count())
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
    assert(files.nonEmpty)
    assert(files.exists(_.listFiles().count(_.getName.endsWith(".orc")) > 1),
      "the 10-record cap must roll files within a day partition")
    val one = back.select("day").distinct().head.get(0).toString
    val plan = back.filter(col("day") === one).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
    // the value filter reaches the ORC scan (native pushdown, like parquet)
    val pushed = back.filter(col("value") > 50.0).queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("value"))
  }

  test("flattenStruct lifts nested structs to prefixed top-level columns") {
    import spark.implicits._
    val nested = Seq((1L, """{"a": {"b": 2, "c": {"d": "x"}}, "e": 5}"""))
      .toDF("id", "js")
      .select(col("id"), from_json(col("js"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "a STRUCT<b: BIGINT, c: STRUCT<d: STRING>>, e BIGINT")).as("payload"))
    val flat = JsonEtl.flattenStruct(nested)
    assert(flat.columns.toSeq === Seq("id", "payload_a_b", "payload_a_c_d", "payload_e"))
    val row = flat.head
    assert(row.getAs[Long]("payload_a_b") === 2L)
    assert(row.getAs[String]("payload_a_c_d") === "x")
  }

  test("tolerant JSON parse quarantines corrupt records without failing") {
    val dir = Files.createTempDirectory("graft-json").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.jsonl"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "also ok"}
        |{"id": 3, "v": BROKEN
        |not json at all
        |{"id": 4, "v": "fine"}""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val (good, bad) = Sinks.tolerantJson(spark, s"$dir/in.jsonl", schema)
    assert(good.count() === 3)
    assert(bad.count() === 2)
  }

  test("xml sink round-trips, and tolerant xml quarantines malformed elements") {
    val dir = Files.createTempDirectory("graft-xml").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    Sinks.xmlWrite(docs, s"$dir/xml", rowTag = "doc")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType)))
    val back = spark.read.schema(schema).option("rowTag", "doc")
      .format("xml").load(s"$dir/xml")
    assert(back.count() === docs.count())
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // the tolerant read: two good elements, one with a malformed value
    Files.writeString(java.nio.file.Paths.get(s"$dir/feed.xml"),
      """<rows>
        |<doc><doc_id>1</doc_id><lang>en</lang><source>s0</source></doc>
        |<doc><doc_id>NOT_A_NUMBER</doc_id><lang>xx</lang><source>s1</source></doc>
        |<doc><doc_id>3</doc_id><lang>de</lang><source>s2</source></doc>
        |</rows>""".stripMargin)
    val (good, bad) = Sinks.tolerantXml(spark, s"$dir/feed.xml", "doc", schema)
    assert(good.count() === 2)
    assert(bad.count() === 1)
  }

  test("json-lines sink round-trips day-partitioned, and csv keeps headers") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    val ev = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("ts") / 1000000000L).cast(LongType).as("sec"))
    Sinks.jsonLinesWrite(ev,
      date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd"), s"$dir/json")
    val backJson = spark.read.json(s"$dir/json")
    assert(backJson.count() === ev.count())
    assert(backJson.columns.toSet === Set("event_id", "user_id", "event_type", "sec", "day"))
    Sinks.csvWrite(ev, s"$dir/csv")
    val backCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/csv")
    assert(backCsv.count() === ev.count())
    assert(backCsv.columns.sorted.toSeq === ev.columns.sorted.toSeq)
  }

  test("snapshot merge keeps the latest row per key, delta wins ties") {
    import spark.implicits._
    val snapshot = Seq((1L, 10L, "old"), (2L, 10L, "keep"), (4L, 10L, "snap"))
      .toDF("k", "v", "payload")
    val delta = Seq((1L, 20L, "newer"), (3L, 5L, "insert"), (4L, 10L, "delta-tie"))
      .toDF("k", "v", "payload")
    val merged = Sinks.mergeSnapshot(snapshot, delta, "k", "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(merged === Map(
      1L -> (20L, "newer"),      // higher version wins
      2L -> (10L, "keep"),       // untouched key survives
      3L -> (5L, "insert"),      // new key inserted
      4L -> (10L, "delta-tie"))) // equal version: delta beats snapshot
    // idempotence: re-merging the same delta changes nothing
    val again = Sinks.mergeSnapshot(
      Sinks.mergeSnapshot(snapshot, delta, "k", "v"), delta, "k", "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(again === merged)
  }

  test("schema evolution: mergeSchema unions parquet generations") {
    val dir = Files.createTempDirectory("graft-se").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/gen1")
    Seq((2L, 3.5)).toDF("id", "v2").write.parquet(s"$dir/gen2")
    val merged = Sinks.mergedRead(spark, s"$dir/gen1", s"$dir/gen2")
    assert(merged.columns.toSet === Set("id", "v1", "v2"))
    assert(merged.count() === 2)
  }

  test("bucketed tables join with zero exchanges (write-time co-location)") {
    val dir = Files.createTempDirectory("graft-bucket").toString
    val ev = spark.read.parquet(s"$sf/events.parquet").select("user_id", "value")
    Sinks.bucketedTable(ev, "b_events", s"$dir/events", "user_id", 4)
    Sinks.bucketedTable(
      ev.groupBy("user_id").agg(sum("value").as("tot")),
      "b_totals", s"$dir/totals", "user_id", 4)
    try withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      // -1 forces the shuffle-join path: without bucketing this join would
      // exchange BOTH sides; the bucket metadata must eliminate both
      val joined = spark.table("b_events").join(spark.table("b_totals"), "user_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1500)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_events")
      spark.sql("DROP TABLE IF EXISTS b_totals")
    }
  }

  test("audited promote: metrics ride the write; over-budget retains staging, never publishes") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    val out = "/tmp/graft_audited_out"
    def gone(p: String) = !new java.io.File(p).exists()
    Seq(out, s"$out.staging").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // the metrics node is ON the write plan — one scan, no cache
    val plan = docs.observe(org.apache.spark.sql.Observation(),
      count(when(col("doc_id").isNull, 1)).as("x"))
      .queryExecution.analyzed.toString
    assert(plan.contains("CollectMetrics"), plan)
    // failure path: every doc violates → throw, staging retained, no publish
    val ex = intercept[IllegalStateException] {
      Sinks.auditedPromote(docs, out,
        Map("all_rows_flagged" -> col("doc_id").isNotNull))
    }
    assert(ex.getMessage.contains("all_rows_flagged"))
    assert(gone(out), "over-budget audit must not publish")
    assert(!gone(s"$out.staging"), "staging must be retained for inspection")
    // success path: rules pass → promoted, staging consumed, counts returned
    val n = docs.count()
    val counts = Sinks.auditedPromote(docs, out,
      Map("null_id" -> col("doc_id").isNull,
          "short_text" -> (length(col("text")) < 1)))
    assert(counts === Map("null_id" -> 0L, "short_text" -> 0L))
    assert(!gone(out) && gone(s"$out.staging"))
    assert(spark.read.parquet(out).count() === n)
  }

  test("redaction strips emails and phone runs, counts each match") {
    import spark.implicits._
    val probe = Seq(
      (1L, "contact bob.smith+x@ex-ample.co.uk or call +1 (555) 123-4567 now"),
      (2L, "two mails: a@b.io c@d.org"),
      (3L, "clean text with no pii at all")).toDF("doc_id", "text")
    val out = JsonEtl.redact(probe, "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._1 === "contact <EMAIL> or call <PHONE> now")
    assert(out(1L)._2 === 1L && out(1L)._3 === 1L)
    assert(out(2L)._1 === "two mails: <EMAIL> <EMAIL>")
    assert(out(2L)._2 === 2L && out(2L)._3 === 0L)
    assert(out(3L) === (("clean text with no pii at all", 0L, 0L)))
  }

  test("quality audit reports every rule and counts match direct recomputation") {
    val out = JsonEtl.qualityAudit(spark, sf).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(out.keySet === Set(
      "events_null_user", "events_bad_props", "events_negative_value",
      "orders_nonpositive_total", "documents_nchars_mismatch",
      "documents_empty", "documents_short_text", "lineitem_orphan_order"))
    // one rule recomputed directly proves the conditional counts aren't
    // accidentally counting all rows (a broken `when` would)
    val short = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("n_chars") < 100).count()
    assert(out("documents_short_text") === short)
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out("documents_nchars_mismatch") < total,
      "a rule counting every row means the predicate is broken")
    out.values.foreach(v => assert(v >= 0L))
  }

  test("gap fill: dense hourly grid, zero-filled counts, forward-filled values") {
    val rows = JsonEtl.gapFill(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("h"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Double]("filled_value")).map(_.toDouble)))
    val byBucket = rows.groupBy(_._1)
    val hours = rows.map(_._2)
    val span = hours.max - hours.min + 1
    byBucket.values.foreach { vs =>
      assert(vs.length.toLong === span, "every bucket covers the full hour grid")
      val sorted = vs.sortBy(_._2)
      // forward fill: an empty hour carries the previous filled value; the
      // value only becomes (and stays) defined after the first observation
      sorted.sliding(2).foreach {
        case Array(prev, cur) =>
          if (cur._3 == 0L) assert(cur._4 === prev._4,
            s"empty hour ${cur._2} must carry the previous value")
          if (prev._4.isDefined) assert(cur._4.isDefined,
            "a filled value never reverts to null")
        case _ =>
      }
    }
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_._3).sum === total, "zero-filled counts still sum to all events")
  }

  test("gap fill is parameterized: daily grain over a different key") {
    // the general form with (event_type key, 86400 s grain, max as the
    // LOCF column) — proves key/grain/fills really are runtime knobs and
    // the grid/fill semantics survive the change
    val ev = Tables(spark, sf).events
    val rows = JsonEtl.gapFill(ev, col("event_type"), JsonEtl.tsSec(col("ts")),
        86400L,
        zeroFills = Seq("n" -> count(lit(1))),
        locfFills = Seq("max_value" -> max(col("value"))))
      .collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("h"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Double]("max_value")).map(_.toDouble)))
    val keys = ev.select(col("event_type")).distinct().count()
    val days = rows.map(_._2)
    val span = days.max - days.min + 1
    assert(rows.length.toLong === keys * span,
      "grid is exactly keys × days — event-volume independent")
    rows.groupBy(_._1).values.foreach { vs =>
      vs.sortBy(_._2).sliding(2).foreach {
        case Array(prev, cur) if cur._3 == 0L =>
          assert(cur._4 === prev._4, "empty day carries the previous value")
        case _ =>
      }
    }
    assert(rows.map(_._3).sum === ev.count())
  }

  test("mergeUpsert applies latest-wins updates, deletes, and inserts") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, 1L, "U", 11.0), (1L, 3L, "U", 13.0), // latest (seq 3) wins
      (2L, 2L, "D", 0.0),                       // delete
      (4L, 4L, "U", 44.0),                      // insert (absent from base)
      (5L, 5L, "D", 0.0))                       // delete of a ghost key: no row
      .toDF("k", "seq", "op", "bal")
    val out = JsonEtl.mergeUpsert(base, changes, "k", "seq")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDouble(2), Option(r.getAs[java.lang.Long]("last_seq")).map(_.toLong)))
      .toSet
    assert(out === Set(
      (1L, Some("a"), 13.0, Some(3L)),  // updated to the seq-3 value
      (3L, Some("c"), 30.0, None),      // untouched base row
      (4L, None, 44.0, Some(4L))))      // inserted; non-payload cols null
  }

  test("pseudonymize keeps join topology, leaves nulls null, unlinks on salt rotation") {
    val ev = Tables(spark, sf).events.select("event_id", "user_id", "event_type")
    val out = JsonEtl.pseudonymize(ev, Seq("user_id"), "s1")
    // same id → same token: the distinct structure is untouched
    assert(out.select("user_id").distinct().count()
      === ev.select("user_id").distinct().count())
    // group sizes survive tokenization (the multiset of per-key counts)
    def sizes(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id").count().select("count")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(sizes(out) === sizes(ev))
    // null identities stay null — no shared "null token" join key
    assert(out.filter(col("user_id").isNull).count()
      === ev.filter(col("user_id").isNull).count())
    // rotating the salt unlinks every token
    def tokens(salt: String) = JsonEtl.pseudonymize(ev, Seq("user_id"), salt)
      .filter(col("user_id").isNotNull).select("user_id")
      .distinct().collect().map(_.getString(0)).toSet
    assert(tokens("s1").intersect(tokens("s2")).isEmpty)
  }

  test("snapshotDiff emits added/changed keys only, from one scan of the log") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, 10.0), (1L, 5L, 11.0),  // changed: 10.0 -> 11.0
      (2L, 2L, 20.0), (2L, 6L, 20.0),  // new event, same value: excluded
      (3L, 3L, 30.0),                  // prefix-only, unchanged: excluded
      (4L, 7L, 40.0), (4L, 8L, 41.0))  // added after the cut
      .toDF("k", "seq", "v")
    val out = JsonEtl.snapshotDiff(log, Seq("k"), col("seq"), col("v"), lit(4L))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[java.lang.Double]("old_value")).map(_.toDouble),
        r.getDouble(3), r.getLong(4))).toSet
    assert(out === Set(
      (1L, "changed", Some(10.0), 11.0, 1L),
      (4L, "added", None, 41.0, 2L)))
    // single-scan shape: no join operator anywhere in the plan
    val plan = JsonEtl.snapshotDiff(log, Seq("k"), col("seq"), col("v"),
      lit(4L)).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"expected join-free plan:\n$plan")
  }

  test("scd2: versions chain into a gapless partition of each key's timeline") {
    val rows = JsonEtl.scd2(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Long]("is_current")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { vs =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.count(_._4 == 1L) === 1, "exactly one current version per key")
      assert(sorted.last._4 === 1L && sorted.last._3.isEmpty,
        "the open version is the last and has no end")
      sorted.init.foreach(v => assert(v._3.isDefined && v._4 == 0L))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3.contains(b._2),
          "each version ends exactly where the next begins")
        case _ =>
      }
    }
    // versions cover every signup event
    val n = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "signup").count()
    assert(rows.length.toLong === n)
  }

  test("incremental join: fold ≡ one-shot join, empty delta no-op, deltas broadcast") {
    val t = Tables(spark, sf)
    val o = t.orders.select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val c = t.customer.select(col("c_custkey"), col("c_name"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val oneShot = o.join(c, Seq("c_custkey"))
    // interleaved deltas: every term of the delta-join identity carries rows
    val os = (0L to 3L).map(i => o.filter(col("o_orderkey") % 4 === i))
    val cs = (0L to 1L).map(i => c.filter(col("c_custkey") % 2 === i))
    val st0 = JsonEtl.joinViewInit(os(0), cs(0), Seq("c_custkey"))
    val st = Seq((os(1), cs(1)), (os(2), c.limit(0)), (os(3), c.limit(0)))
      .foldLeft(st0) { case (acc, (dl, dr)) =>
        JsonEtl.joinViewUpsert(acc, dl, dr, Seq("c_custkey")) }
    assert(key(st.view) === key(oneShot))
    // empty deltas on BOTH sides are a no-op
    val noop = JsonEtl.joinViewUpsert(st, o.limit(0), c.limit(0), Seq("c_custkey"))
    assert(key(noop.view) === key(oneShot))
    // the scale contract: delta terms broadcast the delta side, so the
    // history side is scanned, never shuffled
    val plan = JsonEtl.joinViewUpsert(st0, os(1), cs(1), Seq("c_custkey"))
      .view.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "delta-join terms must broadcast the batch side")
  }

  test("durable incremental join: per-batch appends, replay no-op, crash window replaces") {
    val t = Tables(spark, sf)
    val o = t.orders.select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val c = t.customer.select(col("c_custkey"), col("c_name"))
    val root = Files.createTempDirectory("graft_joinview").toString + "/jv"
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val os = (0L to 2L).map(i => o.filter(col("o_orderkey") % 3 === i))
    val cs = (0L to 1L).map(i => c.filter(col("c_custkey") % 2 === i))
    JsonEtl.joinUpsertAt(spark, root, os(0), cs(0), 0L, Seq("c_custkey"))
    // crash window at the tail, BOTH deltas non-empty: batch 1's files
    // land in all three dirs but the marker never does. The retry must
    // (a) REPLACE the b1- file sets, not append beside them, and (b) read
    // history EXCLUDING the crashed b1- files — otherwise the ΔL⋈ΔR rows
    // re-enter through the history terms and the view double-counts
    Seq("view" -> cs(1).limit(0), "left" -> os(1), "right" -> cs(1))
      .foreach { case (sub, df) =>
        graft.streaming.Streams.replaceBatchFiles(spark, s"$root/$sub", 1L)(
          st => (if (sub == "view") os(1).join(cs(1), Seq("c_custkey"))
                 else df).write.parquet(st)) }
    JsonEtl.joinUpsertAt(spark, root, os(1), cs(1), 1L, Seq("c_custkey"))
    JsonEtl.joinUpsertAt(spark, root, os(2), c.limit(0), 2L, Seq("c_custkey"))
    assert(key(spark.read.parquet(s"$root/view")) === key(o.join(c, Seq("c_custkey"))))
    // replayed id: marker answers, nothing re-folds (the view would
    // otherwise duplicate every batch-1 delta row)
    JsonEtl.joinUpsertAt(spark, root, os(1), cs(1), 1L, Seq("c_custkey"))
    assert(key(spark.read.parquet(s"$root/view")) === key(o.join(c, Seq("c_custkey"))))
    // the state carries both sides in full — the next delta has its history
    assert(key(spark.read.parquet(s"$root/left")) === key(o))
    assert(key(spark.read.parquet(s"$root/right")) === key(c))
  }

  test("incremental distinct: fold order-invariant, close to exact, durable replay no-op") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    def est(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      JsonEtl.distinctEstimate(df).collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("distinct_est"))
        .toMap
    val folded = est(slices.tail.foldLeft(JsonEtl.distinctState(slices.head))(
      (st, b) => JsonEtl.distinctUpsert(st, b)))
    // commutativity: sketch union represents SET union — arrival order
    // cannot change the state
    val permuted = Seq(3, 1, 0, 2).map(slices(_))
    val folded2 = est(permuted.tail.foldLeft(JsonEtl.distinctState(permuted.head))(
      (st, b) => JsonEtl.distinctUpsert(st, b)))
    assert(folded === folded2)
    // accuracy vs exact distinct at the default geometry (lgK=12 → ~2%
    // relative standard error; assert 3σ)
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("d")).toMap
    exact.foreach { case (k, d) =>
      assert(math.abs(folded(k) - d) <= math.max(2.0, 0.06 * d),
        s"$k: est ${folded(k)} vs exact $d") }
    // durable form: replay fences, final state equals the in-memory fold
    val path = Files.createTempDirectory("graft_dstate").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong, Distinct()) }
    JsonEtl.foldAt(spark, path, slices(1), 1L, Distinct()) // replay
    assert(est(spark.read.parquet(path)) === folded)
  }

  test("audience overlap: folded theta estimates match exact set algebra; replay no-op") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(JsonEtl.audienceState(slices.head))(
      (st, b) => JsonEtl.audienceUpsert(st, b))
    val overlap = JsonEtl.audienceOverlap(folded).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(overlap.nonEmpty)
    // exact set algebra from the raw events
    val sets = events.select(col("event_type"), col("user_id"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val types = sets.keys.toSeq.sorted
    for (a <- types; b <- types if a < b) {
      val r = overlap((a, b))
      val (sa, sb) = (sets(a), sets(b))
      val exact = Map(
        "est_a" -> sa.size, "est_b" -> sb.size,
        "est_union" -> (sa ++ sb).size,
        "est_intersection" -> (sa & sb).size,
        "est_a_only" -> (sa -- sb).size,
        "est_b_only" -> (sb -- sa).size)
      exact.foreach { case (c, x) =>
        assert(math.abs(r.getAs[Double](c) - x) <= math.max(2.0, 0.05 * x),
          s"($a,$b).$c: est ${r.getAs[Double](c)} vs exact $x") }
      val jExact = (sa & sb).size.toDouble / (sa ++ sb).size
      assert(math.abs(r.getAs[Double]("jaccard") - jExact) <= 0.05)
    }
    // ABOVE capacity (lgK=8 → 256 nominal entries, 4000/2000-user sets):
    // the estimate regime — every estimate inside a loose envelope of
    // theta's compounded relative error (deterministic for a fixed
    // input: the update seed is fixed, so a passing envelope stays
    // green), and the union operator built at the SAME lgK (an
    // unmatched default would down-sample est_union while the sizes
    // stay exact — the inconsistency this pins against)
    import spark.implicits._
    val big = ((0 until 4000).map(i => ("A", s"u$i")) ++
        (0 until 4000).map(i => ("B", s"u${i + 2000}")))
      .toDF("event_type", "user_id")
    val bigState = JsonEtl.audienceState(big, lgK = 8)
    val est6 = JsonEtl.audienceOverlap(bigState, lgK = 8).head()
    Seq("est_a" -> 4000.0, "est_b" -> 4000.0, "est_union" -> 6000.0,
      "est_intersection" -> 2000.0, "est_a_only" -> 2000.0,
      "est_b_only" -> 2000.0).foreach { case (c, x) =>
      assert(math.abs(est6.getAs[Double](c) - x) <= 0.5 * x,
        s"$c: ${est6.getAs[Double](c)} vs $x") }
    // durable form: replay is a no-op
    val path = Files.createTempDirectory("graft_astate").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong, Audience()) }
    JsonEtl.foldAt(spark, path, slices(0), 0L, Audience()) // replay
    val replayed = JsonEtl.audienceOverlap(spark.read.parquet(path))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("est_union")).toMap
    overlap.foreach { case (k, r) =>
      assert(replayed(k) === r.getAs[Double]("est_union")) }
  }

  test("trending items: exact below capacity, bounded above it, replay no-op") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sf/events.parquet")
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(JsonEtl.freqState(slices.head))(
      (st, b) => JsonEtl.freqUpsert(st, b))
    val top = JsonEtl.freqTopItems(folded).collect()
    // below capacity (150 users ≪ 1024 counters): exact counts, lb = ub
    val exact = events.groupBy(col("event_type"),
        col("user_id").cast("string").as("item"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(top.nonEmpty)
    top.foreach { r =>
      val x = exact((r.getString(0), r.getAs[String]("item")))
      assert(r.getAs[Long]("est") === x)
      assert(r.getAs[Long]("lb") === x && r.getAs[Long]("ub") === x)
    }
    // ABOVE capacity (maxMapSize 8, zipf-ish stream): the true heavy
    // hitter survives with its estimate inside the Misra-Gries bound
    // est ∈ [true - N/maxMapSize, true] and NO_FALSE_NEGATIVES keeps it
    val skew = ((0 until 4000).map(_ => ("seg", "hot")) ++
        (0 until 4000).map(i => ("seg", s"cold${i % 400}")))
      .toDF("event_type", "user_id")
    val st8 = JsonEtl.freqState(skew, maxMapSize = 8)
    val hot = JsonEtl.freqTopItems(st8, k = 1).head()
    assert(hot.getAs[String]("item") === "hot")
    // the library's actual guarantee is epsilon = 3.5/maxMapSize, so the
    // pinnable bound is est >= true - 3.5*N/maxMapSize (a tighter
    // N/maxMapSize assertion would encode a bound the sketch never
    // promised and flake on partitioning/merge-order changes)
    assert(hot.getAs[Long]("ub") >= 4000L &&
      hot.getAs[Long]("est") >= 4000L - (3.5 * 8000L / 8).toLong)
    // durable form: replay is a no-op
    val path = Files.createTempDirectory("graft_fstate").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.foldAt(spark, path, b, i.toLong, Freq()) }
    JsonEtl.foldAt(spark, path, slices(3), 3L, Freq()) // replay
    val replayed = JsonEtl.freqTopItems(spark.read.parquet(path)).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[String]("item"), r.getAs[Long]("est")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(replayed === top.map(r => (r.getString(0), r.getAs[Long]("rank"),
      r.getAs[String]("item"), r.getAs[Long]("est")))
      .sortBy(t => (t._1, t._2)).toSeq)
  }

  test("incremental quantiles: folded estimates inside the rank-error envelope; replay no-op") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val slices = (0L to 3L).map(i => events.filter(col("event_id") % 4 === i))
    val folded = slices.tail.foldLeft(JsonEtl.quantileState(slices.head))(
      (st, b) => JsonEtl.quantileUpsert(st, b))
    // n_rows is exact (additive beside the sketch): sums to the corpus
    assert(folded.agg(sum(col("n_rows"))).head.getLong(0) === events.count())
    // folded p50/p90/p99 vs exact order statistics: KLL k=200 guarantees
    // ~1.7% rank error at 99% confidence per sketch; merging 4 partials
    // keeps the bound's ORDER — assert a loose 4% rank envelope by
    // checking the estimate's true rank, not its value
    val est = JsonEtl.quantileEstimates(folded).collect()
      .map(r => r.getAs[String]("event_type") ->
        Seq(r.getAs[Double]("p50"), r.getAs[Double]("p90"),
          r.getAs[Double]("p99"))).toMap
    val vals = events.select(col("event_type"), col("value").cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    est.foreach { case (k, qs) =>
      val sortedVals = vals(k)
      Seq(0.5, 0.9, 0.99).zip(qs).foreach { case (q, v) =>
        val rank = sortedVals.count(_ <= v).toDouble / sortedVals.length
        assert(math.abs(rank - q) <= 0.04,
          s"$k p${(q * 100).round}: estimate $v has true rank $rank") }
    }
    // durable form: replay is a no-op (same watermark discipline)
    val path = Files.createTempDirectory("graft_qstate").toString + "/state"
    slices.zipWithIndex.foreach { case (b, i) =>
      JsonEtl.quantileUpsertAt(spark, path, b, i.toLong) }
    val before = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getLong(2))).sortBy(_._1).toSeq
    JsonEtl.quantileUpsertAt(spark, path, slices(2), 2L) // replay
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(after === before, "replayed batch must not inflate n_rows")
    assert(JsonEtl.aggFoldWatermark(spark, path) === 3L)
  }
}
